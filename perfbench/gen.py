"""Seeded input generators for the benchmark.

Two inputs, both a pure function of (seed, size):

* ``clickstream_csv`` -- the reference's 9-column e-commerce event CSV
  (FIXTURES.md section A), the input of ``BatchPipelineCli`` and
  ``ReplayPipelineCli``.
* ``documents`` -- the ``documents`` parquet table of the reference test
  data (FIXTURES.md section B), the one table the night job reads, with the
  reference's row count per scale and its text distribution.

Run as a script to generate and describe an input, or to describe the
distributions of an existing ``documents.parquet``:

    python3 perfbench/gen.py csv <out.csv> --seed 1 --rows 20000
    python3 perfbench/gen.py documents <outDir> --seed 1 --scale 0.1
    python3 perfbench/gen.py stats <dir>/documents.parquet
"""
import argparse
import datetime as dt
import os
import sys

import numpy as np

CSV_HEADER = ("event_time,event_type,product_id,category_id,category_code,"
              "brand,price,user_id,user_session")

# dotted category paths with 2, 3 and 4 parts; whitespace-free (the replay
# wire format collapses whitespace into field separators)
CATEGORY_CODES = [
    "electronics.smartphone", "electronics.audio.headphone",
    "electronics.video.tv", "appliances.kitchen.refrigerators.lg",
    "appliances.environment.vacuum", "computers.notebook",
    "computers.components.cpu.intel", "apparel.shoes.keds",
    "furniture.living_room.sofa", "kids.toys", "auto.accessories.player",
    "construction.tools.drill.bosch",
]
BRANDS = ["samsung", "apple", "xiaomi", "huawei", "lg", "sony", "bosch",
          "lenovo", "acer", "asus", "keds", "philips"]


def _session_id(rng):
    b = rng.integers(0, 256, size=16, dtype=np.uint8).tobytes().hex()
    return f"{b[:8]}-{b[8:12]}-4{b[13:16]}-a{b[17:20]}-{b[20:32]}"


def clickstream_csv(path, seed, rows, span_days=21, events_per_session=4):
    """Write ``rows`` clickstream events spanning ``span_days`` days.

    Events come in sessions of 1..2*events_per_session-1 events (funnel
    shapes: views, then carts, then purchases). ~15% of rows have a null
    brand and ~10% a null category_code. Returns (rows, bytes, span_hours).
    """
    rng = np.random.default_rng(seed)
    start = dt.datetime(2019, 11, 1)
    span_s = span_days * 86400
    lines = [CSV_HEADER]
    n = 0
    first = last = None
    while n < rows:
        k = int(min(rows - n, rng.integers(1, 2 * events_per_session)))
        t0 = int(rng.integers(0, span_s - 3600))
        user = int(rng.integers(500000000, 600000000))
        session = _session_id(rng)
        offsets = np.sort(rng.integers(0, 3600, size=k))
        for j in range(k):
            t = t0 + int(offsets[j])
            first = t if first is None else min(first, t)
            last = t if last is None else max(last, t)
            stage = j / max(1, k - 1)
            etype = "view" if stage < 0.6 else ("cart" if stage < 0.9 else "purchase")
            ci = int(rng.integers(0, len(CATEGORY_CODES)))
            code = "" if rng.random() < 0.10 else CATEGORY_CODES[ci]
            brand = "" if rng.random() < 0.15 else BRANDS[int(rng.integers(0, len(BRANDS)))]
            price = int(rng.integers(1, 200000)) / 100
            ts = (start + dt.timedelta(seconds=t)).strftime("%Y-%m-%d %H:%M:%S")
            lines.append(f"{ts} UTC,{etype},{int(rng.integers(1000000, 1100000))},"
                         f"{2053013552226107603 + ci},{code},{brand},{price:.2f},"
                         f"{user},{session}")
            n += 1
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return n, len(data), (last - first) / 3600.0


# ---------------------------------------------------------------------------
# documents (the table the night job's q44 and q45b read)
# ---------------------------------------------------------------------------

# The reference test data's text: space-separated tokens drawn uniformly
# from these 30 words, 10-99 tokens a document. 5% of documents are a copy
# of another (each of a different one) with " dup" appended: near-duplicates,
# of which a copy of a copy carries two. One in 600 is an exact copy of another.
WORDS = ("a the data spark stream batch table column row key value hash join "
         "group agg sort order filter scan query window merge vector part line "
         "customer fast slow big small").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def document_count(scale):
    """Rows of ``documents`` at ``scale``, as in the reference test data:
    500 up to sf0.01, 50,000 per unit of scale above it (5,000 at sf0.1)."""
    return max(500, int(round(50000 * scale)))


def documents(out_dir, seed, scale):
    """Write ``documents.parquet`` for ``scale`` (see ``document_count``),
    one row group, with the reference test data's parquet writer and types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nd = document_count(scale)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(nd)]
    near = nd // 20
    for i, j in zip(rng.choice(nd, near, replace=False), rng.choice(nd, near, replace=False)):
        texts[i] = texts[j] + " dup"
    for i in rng.choice(nd, nd // 600, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))]
    pq.write_table(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        os.path.join(out_dir, "documents.parquet"), row_group_size=1 << 30,
        compression="snappy")
    return {"documents_rows": nd}


def document_stats(path):
    """The distributions the curation stages depend on, for comparing a
    generated ``documents.parquet`` with the reference test data's."""
    import collections

    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    texts = t["text"]
    n_tok = sorted(len(x.split()) for x in texts)
    langs = collections.Counter(t["lang"])
    return {
        "rows": len(texts),
        "tokens_min_median_max": (n_tok[0], n_tok[len(n_tok) // 2], n_tok[-1]),
        "tokens_mean": round(sum(n_tok) / len(n_tok), 1),
        "vocabulary": len({w for x in texts for w in x.split()}),
        "near_duplicates": sum(x.endswith(" dup") for x in texts),
        "exact_duplicate_rows": len(texts) - len(set(texts)),
        "lang_shares": {k: round(v / len(texts), 3) for k, v in sorted(langs.items())},
        "sources": len(set(t["source"])),
    }


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("kind", choices=["csv", "documents", "stats"])
    p.add_argument("out")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rows", type=int, default=20000)
    p.add_argument("--scale", type=float, default=0.1)
    a = p.parse_args(argv)
    if a.kind == "csv":
        rows, size, span = clickstream_csv(a.out, a.seed, a.rows)
        print(f"csv rows={rows} bytes={size} span_hours={span:.2f}")
    elif a.kind == "documents":
        print(f"documents {documents(a.out, a.seed, a.scale)}")
    else:
        print(document_stats(a.out))


if __name__ == "__main__":
    main(sys.argv[1:])

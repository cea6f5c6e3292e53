"""The workloads: their inputs, and how a run drives the harness JVM.

Every workload is a closed loop with one client (the harness's main
thread) on local[nproc]. The seed sets the generated input; the operations
run in a fixed order, the order of the job's steps.
"""
import hashlib
import json
import os

import gen

# The night job: the curation DAG and its streaming variant, both over the
# documents table (q68_night_report is left out for time; see README.md).
NIGHT_JOB = ["q44_curation_pipeline", "q45b_streaming_curation"]
# Scale of the night job's documents table: sf0.1, 5,000 documents, as in
# the reference test data the issue sized the job on.
DOCS_SCALE = 0.1
# ingest: rows of the generated CSV and its event-time span. ReplayPipelineCli
# cuts ceil(span_hours / speedFactor) slices: 30 h at speedFactor 5 = 6.
CSV_ROWS = 20000
CSV_SPAN_DAYS = 1.25


# Inputs are pure functions of (generator source, seed, size), so a finished
# file is reused by later runs in the same checkout.
GEN_VERSION = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]


def _cached(path, make):
    """Generate an input once; the `.done` marker holds what `make` returned."""
    if not os.path.exists(path + ".done"):
        info = make()
        with open(path + ".done", "w") as f:
            json.dump(info, f)
    with open(path + ".done") as f:
        return json.load(f)


class Ingest:
    name = "ingest"

    @staticmethod
    def inputs(seed, root):
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, f"clicks-{GEN_VERSION}-s{seed}-r{CSV_ROWS}-d{CSV_SPAN_DAYS}.csv")
        rows, size, span = _cached(
            path, lambda: gen.clickstream_csv(path, seed, CSV_ROWS, span_days=CSV_SPAN_DAYS))
        return {"csv": path, "rows": rows, "bytes": size, "span_hours": span}

    @staticmethod
    def run(launch, trace, inputs):
        """One round, cold, in a fresh JVM: how a user meets the CLIs."""
        return [launch("ingest", trace, csv=inputs["csv"])]


class NightJob:
    name = "night-job"

    @staticmethod
    def inputs(seed, root):
        path = os.path.join(root, f"docs-{GEN_VERSION}-s{seed}-x{DOCS_SCALE}")
        _cached(path, lambda: gen.documents(path, seed, DOCS_SCALE))
        return {"data": path, "queries": NIGHT_JOB}

    @staticmethod
    def run(launch, trace, inputs):
        return [launch("night-job", trace, data=inputs["data"],
                       queries=",".join(NIGHT_JOB))]


WORKLOADS = {w.name: w for w in (Ingest, NightJob)}

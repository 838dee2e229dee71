"""Capture diffable plan text for named registry queries.

Usage: python tools/explain_capture.py <outdir> <query> [<query> ...]

Writes <outdir>/<query>_<suffix>.txt (suffix from $EXPLAIN_SUFFIX,
default "before"): the optimized logical plan, then the physical plan.
Plans print with ``spark.sql.debug.maxToStringFields`` raised, so no
wide projection or aggregate list is truncated, and with expression
ids (``#123``, ``#123L``), ``plan_id=`` values, lambda variable names
and stored-index temp directories masked, so captures of the same plan
from two commits or two processes diff clean. Run it from the repo
root with the package importable (``PYTHONPATH=.``); the scale factor
comes from $SPARK_GRAFT_SF_DIR. Iterative operators (pagerank, CC,
k-core, LPA) eagerly execute their sweeps at plan-construction time and return a
final plan whose lineage is checkpoint-truncated — the captured text
then shows the per-sweep terminal shape, which is the informative part.
"""

from __future__ import annotations

import os
import re
import sys

from kafka_topic_dumper_spark import registry
from kafka_topic_dumper_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_MASKS = (
    (re.compile(r"lambda \w+#\d+L?"), "lambda _"),
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    # the per-process temp directory of a stored index (mkdtemp suffix)
    (re.compile(r"_index_\w{8}/"), "_index_*/"),
)


def mask(text: str) -> str:
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return text


def plan_text(df) -> str:
    qe = df._jdf.queryExecution()
    return mask(
        "== Optimized Logical Plan ==\n"
        + qe.optimizedPlan().toString()
        + "\n== Physical Plan ==\n"
        + qe.executedPlan().toString()
    )


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("EXPLAIN_SUFFIX", "before")
    spark = get_session("kafka_topic_dumper_spark-explain")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    for name in names:
        text = plan_text(registry.QUERIES[name](spark, SF_DIR))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

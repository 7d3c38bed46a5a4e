"""Capture the internal physical plans of one MERGE command.

A MERGE runs two Spark jobs: the phase-1 touched-files summary
(collect) and the phase-2 rewrite (write_table_files). Neither frame
is user-visible, so this script intercepts them at the engine
boundaries — DataFrame.collect for phase 1 (recognized by its summary
schema) and delta_spark.writer.write_table_files for phase 2 — and
writes their explain("formatted") output. Interception works on any
engine version, so the same script produces the before/after pair:

    PYTHONPATH=<tree> python scripts/capture_merge_plans.py out_prefix [--dv]

emits out_prefix_phase1.txt and out_prefix_phase2.txt. With --dv the
target has deletion vectors enabled, so phase 2 writes only the changed
rows and a third job builds the DV bitmaps (recognized by its
per-file bitmap schema); its frame goes to out_prefix_dvjob.txt.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not os.environ.get("PYTHONPATH"):
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PHASE1_SCHEMAS = ({"max_matches", "files"}, {"n_matches", "n_rows", "files"})
DVJOB_SCHEMA = {"file_base", "data", "cardinality", "max_row_index"}


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--dv"]
    use_dv = "--dv" in sys.argv[1:]
    prefix = args[0] if args else "/tmp/merge_plan"
    expected = ("phase1", "phase2", "dvjob") if use_dv else ("phase1", "phase2")
    captured: dict[str, str] = {}

    # Spark 4 instances are pyspark.sql.classic.dataframe.DataFrame,
    # which overrides collect — patch the concrete class, falling back
    # to the base for older Sparks
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    orig_collect = DataFrame.collect

    def collect(self):
        names = set(self.schema.fieldNames())
        if "phase1" not in captured and names in PHASE1_SCHEMAS:
            captured["phase1"] = _explain(self)
        elif "dvjob" not in captured and names == DVJOB_SCHEMA:
            captured["dvjob"] = _explain(self)
        return orig_collect(self)

    DataFrame.collect = collect

    import delta_spark.writer as writer

    orig_write = writer.write_table_files

    def write_table_files(df, snapshot, *a, **kw):
        if "phase2" not in captured:
            captured["phase2"] = _explain(df)
        return orig_write(df, snapshot, *a, **kw)

    writer.write_table_files = write_table_files
    # merge.py binds the name at import time in some versions — patch
    # there too if already imported
    import delta_spark.commands.merge as merge_mod

    if hasattr(merge_mod, "write_table_files"):
        merge_mod.write_table_files = write_table_files

    from delta_spark.datasets import load_table
    from delta_spark.io import write_delta
    from delta_spark.session import get_spark
    from delta_spark.table import DeltaTable

    spark = get_spark("merge_plan_capture")
    scratch = tempfile.mkdtemp(prefix="merge_plans_")
    dest = os.path.join(scratch, "orders")
    write_delta(load_table(spark, SF_DIR, "orders"), dest)

    merge_src = (load_table(spark, SF_DIR, "orders")
                 .filter("o_orderkey % 10 = 0")
                 .selectExpr(
                     "o_orderkey + CASE WHEN o_orderkey % 2 = 1 "
                     "THEN 900000000 ELSE 0 END AS o_orderkey",
                     "o_custkey", "o_orderstatus",
                     "o_totalprice * 2 AS o_totalprice",
                     "o_orderdate", "o_orderpriority"))

    d = DeltaTable.forPath(spark, dest)
    if use_dv:
        d.setProperties({"delta.enableDeletionVectors": "true"})
    (d.merge(merge_src, "target.o_orderkey = source.o_orderkey")
     .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())

    for phase, text in captured.items():
        out = f"{prefix}_{phase}.txt"
        with open(out, "w") as fh:
            fh.write(text)
        print(f"wrote {out} ({len(text)} bytes)")
    missing = [p for p in expected if p not in captured]
    if missing:
        print(f"WARNING: did not capture {missing}", file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()

"""MERGE INTO (reference: catalyst plan nodes deltaMerge.scala:123-311,
two-phase execution ClassicMergeExecutor.scala:37-63, insert-only fast
path InsertOnlyMergeExecutor.scala:59, duplicate-match detection
MergeIntoCommandBase.scala, source materialization
MergeIntoMaterializeSource.scala).

Full ANSI clause surface:
  WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
  WHEN NOT MATCHED [AND cond] THEN INSERT ...
  WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE
Clauses of a category evaluate in declaration order, first match wins
(deltaMerge semantics).

Execution (Spark-first):
  0. source is materialized via localCheckpoint() ONLY when its plan
     could re-execute differently (nondeterministic expressions, RDD
     backing, unordered limits...), so the two phases see identical
     rows (MergeIntoMaterializeSource.scala:267 shouldMaterializeSource
     contract); deterministic file-based sources are read as-is.
  1. insert-only merges: LEFT ANTI join source→target, append
     (no target files rewritten).
  2. otherwise phase 1: INNER join target(+input_file_name)⇄source on
     the merge condition → distinct touched files + per-target-row
     match counts (duplicate-match error) in ONE distributed job.
     phase 2: FULL OUTER (or LEFT OUTER when no insert clause) join of
     ONLY the touched files' rows against the source, with a
     first-matching-clause CASE projection per output column; rows
     from untouched files are never read or written.
Metrics are collected with df.observe(): no extra pass in the rewrite
path; the deletion-vector path spends one job materializing the changed
rows, so exactly one execution fills the Observation.
"""

from __future__ import annotations

import json
import re
from contextlib import ExitStack, contextmanager
from typing import Optional

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from delta_spark.commands.delete import (cdf_enabled, mask_rows_with_dvs,
                                         match_files_by_name)
from delta_spark.commands.update import _split_ident, set_value_sqls
from delta_spark.log import DeltaLog
from delta_spark.reader import (
    materialized_row_commit_col,
    materialized_row_id_col,
    read_files_df,
    read_files_with_stable_ids,
    with_stable_row_ids,
)
from delta_spark.schema import default_values, quote_ident, sql_type
from delta_spark.stats import DEFAULT_NUM_INDEXED_COLS
from delta_spark.transaction import OptimisticTransaction, dml_transaction
from delta_spark.util import plan_size_estimate, scoped_dml_shuffle_width
from delta_spark.writer import write_cdc_files, write_table_files


class MergeError(Exception):
    pass


@contextmanager
def _on_driver_thread(fn, *args):
    """Run ``fn(*args)`` on a driver thread while the with-body runs;
    the yielded dict receives its result under "val". Exit joins the
    thread. If the body raised, the thread's error (if any) becomes
    the body error's ``__cause__``, so neither is lost; otherwise the
    thread's error is re-raised."""
    out: dict = {}

    def run():
        try:
            out["val"] = fn(*args)
        except BaseException as e:  # re-raised after join
            out["err"] = e

    thread = InheritableThread(target=run)
    thread.start()
    try:
        yield out
    except BaseException as e:
        thread.join()
        if "err" in out:
            raise e from out["err"]
        raise
    thread.join()
    if "err" in out:
        raise out["err"]


def _sqlify(x):
    """Column → SQL text (reference API accepts Column or str)."""
    if x is None or isinstance(x, str):
        return x
    try:
        spark = SparkSession.getActiveSession()
        return str(spark._jsparkSession.expression(x._jc).sql())
    except Exception as e:
        raise MergeError("pass expressions as SQL strings or Columns") from e


def _set_and_cond(a, b):
    """Accept BOTH argument orders: ours is (set, condition); the
    reference Python API (tables.py whenMatchedUpdate, ...) is
    (condition, set). The dict is unambiguous, so dispatch on it."""
    if isinstance(a, dict):
        d, c = a, b
    elif isinstance(b, dict):
        d, c = b, a
    else:
        raise MergeError("a {column: expression} dict is required")
    return {k: _sqlify(v) for k, v in d.items()}, _sqlify(c)


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# words that may appear unqualified in a condition without being column
# references (predicate grammar subset of predicates.py + common SQL)
_SQL_WORDS = {
    "and", "or", "not", "in", "is", "null", "like", "between", "true",
    "false", "case", "when", "then", "else", "end", "cast", "as",
    "distinct", "interval", "date", "timestamp", "escape",
}


def _split_top_and(expr: str) -> list[str]:
    """Split a SQL boolean expression into its top-level AND conjuncts
    (paren- and string-literal-aware). The AND that pairs with a
    pending BETWEEN, or that lives inside CASE..END, is an operand,
    not a conjunction — splitting there would produce junk conjuncts
    like '(x BETWEEN 5) AND (10)'."""
    parts: list[str] = []
    depth = 0            # ( ) nesting
    case_depth = 0       # CASE .. END nesting (at paren depth 0)
    pending_between = 0  # BETWEENs awaiting their pairing AND
    i, n, start = 0, len(expr), 0
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if expr[j] == "'":
                    if j + 1 < n and expr[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        m = _IDENT_RE.match(expr, i)
        prev = expr[i - 1] if i > 0 else " "
        if m and not (prev.isalnum() or prev in "_.$"):
            word = m.group(0).upper()
            if depth == 0:
                if word == "CASE":
                    case_depth += 1
                elif word == "END" and case_depth:
                    case_depth -= 1
                elif word == "BETWEEN" and case_depth == 0:
                    pending_between += 1
                elif word == "AND" and case_depth == 0:
                    if pending_between:
                        pending_between -= 1
                    else:
                        parts.append(expr[start:i])
                        start = m.end()
            i = m.end()
            continue
        i += 1
    parts.append(expr[start:])
    return [p.strip() for p in parts if p.strip()]


_NONDET_JSON_MARKERS = (
    "expressions.Rand",              # rand()/randn()
    "expressions.Uuid",
    "expressions.Shuffle",
    "MonotonicallyIncreasingID",
    "SparkPartitionID",
    "InputFileName",
    "expressions.CurrentTimestamp",  # evaluated per-execution → the two
    "expressions.CurrentDate",       #   merge passes could disagree
    "expressions.Now",
    "\"udfDeterministic\":false",    # nondeterministic UDF
    "LogicalRDD",                    # RDD-backed: re-execution not pinned
    "ExternalRDD",
    "StreamingRelation",
    "logical.Sample",
    "GlobalLimit",                   # limit w/o order: partition-order dependent
)


def _should_materialize_source(source: DataFrame) -> bool:
    """Mirror of MergeIntoMaterializeSource.scala:267
    `shouldMaterializeSource`: the merge source is scanned twice
    (phase-1 findTouchedFiles, phase-2 write), so it must be pinned
    unless re-execution provably yields identical rows — a plan of
    deterministic operators over file/local relations. Detected on the
    analyzed-plan JSON; anything unrecognized materializes (fail-safe).
    At scale this is the difference between zero extra work and
    checkpointing a full copy of the source to executor disks."""
    from delta_spark.connect_compat import is_connect

    if is_connect(source):
        # no analyzed-plan introspection over Connect — fail-safe:
        # always pin the source (correct, costs one localCheckpoint)
        return True
    try:
        js = source._jdf.queryExecution().analyzed().toJSON()
    except Exception:
        return True
    return any(m in js for m in _NONDET_JSON_MARKERS)


class _Clause:
    __slots__ = ("kind", "condition", "values")

    def __init__(self, kind: str, condition: Optional[str], values: Optional[dict[str, str]]):
        self.kind = kind          # update | delete | insert
        self.condition = condition
        self.values = values or {}


class MergeBuilder:
    """Python mirror of io.delta.tables.DeltaMergeBuilder
    (python/delta/tables.py:39-1695 API contract)."""

    def __init__(self, spark: SparkSession, log: DeltaLog, source: DataFrame,
                 condition: str, source_alias: str = "source", target_alias: str = "target"):
        self.spark = spark
        self.log = log
        self.source = source
        self.condition = condition
        self.src = source_alias
        self.tgt = target_alias
        self.matched: list[_Clause] = []
        self.not_matched: list[_Clause] = []
        self.not_matched_by_source: list[_Clause] = []
        self._evolve_schema = False

    # -- builder surface --------------------------------------------------

    def whenMatchedUpdate(self, condition=None, set=None) -> "MergeBuilder":
        set, condition = _set_and_cond(set, condition)
        self.matched.append(_Clause("update", condition, set))
        return self

    def whenMatchedUpdateAll(self, condition=None) -> "MergeBuilder":
        self.matched.append(_Clause("update", _sqlify(condition), {"*": "*"}))
        return self

    def whenMatchedDelete(self, condition=None) -> "MergeBuilder":
        self.matched.append(_Clause("delete", _sqlify(condition), None))
        return self

    def whenNotMatchedInsert(self, condition=None, values=None) -> "MergeBuilder":
        values, condition = _set_and_cond(values, condition)
        self.not_matched.append(_Clause("insert", condition, values))
        return self

    def whenNotMatchedInsertAll(self, condition=None) -> "MergeBuilder":
        self.not_matched.append(_Clause("insert", _sqlify(condition), {"*": "*"}))
        return self

    def whenNotMatchedBySourceUpdate(self, condition=None, set=None) -> "MergeBuilder":
        set, condition = _set_and_cond(set, condition)
        self.not_matched_by_source.append(_Clause("update", condition, set))
        return self

    def whenNotMatchedBySourceDelete(self, condition=None) -> "MergeBuilder":
        self.not_matched_by_source.append(_Clause("delete", _sqlify(condition), None))
        return self

    def withSchemaEvolution(self) -> "MergeBuilder":
        """Evolve the target schema with the source's extra columns
        (ResolveDeltaMergeInto schema-evolution path; also enabled by
        the table property delta.schema.autoMerge.enabled)."""
        self._evolve_schema = True
        return self

    # -- execution --------------------------------------------------------

    def _out_snapshot(self, snapshot):
        """Snapshot view carrying the EVOLVED metadata for OUTPUT paths
        (data writes, CDC writes): an evolving MERGE's files must be
        written under the post-commit schema — under column mapping the
        evolved columns' engine-generated physical names, not their
        logical names. Read paths keep the original snapshot."""
        if self._evolution_meta is None:
            return snapshot
        s = snapshot.clone_state()
        s.metadata = self._evolution_meta
        return s

    def _expand_star(self, clause: _Clause, cols: list[str]) -> dict[str, str]:
        if clause.values.get("*") == "*":
            out = {quote_ident(c): f"{self.src}.{quote_ident(c)}" for c in cols}
            if clause.kind == "update":
                # UPDATE SET * never touches IDENTITY columns — they
                # keep the matched row's value (the explicit-key
                # spelling raises; star must not silently overwrite)
                from delta_spark.schema import identity_info

                for c in identity_info(self._schema):
                    out.pop(quote_ident(c), None)
            return out
        return clause.values

    def _set_key_parts(self, k: str) -> list[str]:
        """SET/INSERT target → identifier parts: optionally backquoted,
        target-alias prefix stripped (DeltaMergeActionResolver)."""
        parts = _split_ident(k)
        if len(parts) > 1 and parts[0].lower() == self.tgt.lower():
            parts = parts[1:]
        return parts

    def _insert_values_map(self, vals: dict[str, str]) -> dict[str, str]:
        """INSERT values keyed by case-folded top-level column; nested
        paths are not insertable (matching the reference)."""
        out = {}
        for k, sql in vals.items():
            parts = self._set_key_parts(k)
            if len(parts) > 1:
                raise MergeError(
                    f"INSERT target must be a top-level column: {k!r}")
            out[parts[0].lower()] = sql
        return out

    def _pin_clause_timestamps(self) -> None:
        """Replace now()/current_timestamp()/current_date() in the merge
        condition and every clause condition/value with literals pinned
        at one instant. String literals are respected via masking.
        (The source DataFrame's own plan is not rewritten — a deviation
        from PreprocessTableMerge, which pins the full plan.)"""
        import datetime as _dt
        import re as _re

        from delta_spark.predicates import mask_string_literals

        now = _dt.datetime.now(_dt.timezone.utc)
        ts_lit = "TIMESTAMP '" + now.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
        d_lit = "DATE '" + now.strftime("%Y-%m-%d") + "'"
        pat = _re.compile(
            r"(?i)\b(current_timestamp|now|current_date)\s*\(\s*\)"
            r"|\bcurrent_timestamp\b(?!\s*\()|\bcurrent_date\b(?!\s*\()")

        def pin(s):
            if not s or not pat.search(mask_string_literals(s)):
                return s
            masked = mask_string_literals(s)
            out, last = [], 0
            for m in pat.finditer(masked):
                out.append(s[last:m.start()])
                word = m.group(0).lower()
                out.append(d_lit if "date" in word else ts_lit)
                last = m.end()
            out.append(s[last:])
            return "".join(out)

        self.condition = pin(self.condition)
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            cl.condition = pin(cl.condition)
            cl.values = {k: pin(v) for k, v in cl.values.items()}

    def execute(self) -> int:
        from delta_spark.predicates import reject_subquery

        reject_subquery(self.condition, "MERGE (search condition)")
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            reject_subquery(cl.condition,
                            f"MERGE ({cl.kind.upper()} condition)")
        # pin current_timestamp()/now()/current_date() to ONE instant
        # across every merge phase (PreprocessTableMerge.scala:261
        # transformTimestamps): find-touched-files and the output
        # projection run as separate Spark queries here, so an unpinned
        # now() could match a row in phase 1 and miss it in phase 2
        self._pin_clause_timestamps()
        from delta_spark.transaction import resolve_idempotent_txn

        app, ver = resolve_idempotent_txn(self.spark)
        txn = dml_transaction(self.spark, self.log)
        if app is not None:
            last = txn.txn_version(app)
            if last is not None and last >= ver:
                return None  # replayed idempotent MERGE
            from delta_spark.actions import SetTransaction
            from delta_spark.util import current_time_millis

            txn._pending_set_transaction = SetTransaction(
                app, ver, current_time_millis())
        snapshot = txn.snapshot
        if snapshot.metadata is None:
            raise MergeError("target delta table does not exist")
        cfg = snapshot.configuration
        num_indexed = int(cfg.get("delta.dataSkippingNumIndexedCols", DEFAULT_NUM_INDEXED_COLS))
        source = (self.source.localCheckpoint(eager=True)
                  if _should_materialize_source(self.source) else self.source)

        # schema evolution: UpdateAll/InsertAll pull the source's extra
        # columns into the target schema (new columns nullable)
        self._schema = snapshot.schema
        self._target_cols = {f.name for f in snapshot.schema.fields}
        self._evolution_meta = None
        auto = self._evolve_schema or str(
            cfg.get("delta.schema.autoMerge.enabled", "false")).lower() == "true"
        has_star = any(c.values.get("*") == "*" for c in self.matched + self.not_matched)
        if auto and has_star:
            from delta_spark.actions import Metadata as _Metadata
            from delta_spark.schema import is_same_schema, merge_schemas
            from delta_spark.util import schema_to_json

            merged = merge_schemas(snapshot.schema, source.schema)
            if not is_same_schema(merged, snapshot.schema):
                m = snapshot.metadata
                new_cfg = m.configuration
                from delta_spark.schema import column_mapping_mode
                if column_mapping_mode(cfg) in ("name", "id"):
                    # evolved columns need physical identities BEFORE
                    # the metadata commits (DeltaColumnMapping
                    # assignColumnIdAndPhysicalName — a mapped field
                    # without an id/physicalName is protocol-invalid);
                    # engine-generated names, never the logical name
                    # (resurrection hazard, same policy as write_delta)
                    from delta_spark.schema import (assign_physical_names,
                                                    max_field_id)
                    start = max(
                        int(cfg.get("delta.columnMapping.maxColumnId", 0)),
                        max_field_id(snapshot.schema))
                    merged, max_id = assign_physical_names(
                        merged, start_id=start, reuse_logical=False)
                    new_cfg = {**m.configuration,
                               "delta.columnMapping.maxColumnId":
                                   str(max_id)}
                self._schema = merged
                self._evolution_meta = _Metadata(
                    id=m.id, name=m.name, description=m.description, format=m.format,
                    schemaString=schema_to_json(merged),
                    partitionColumns=m.partitionColumns,
                    configuration=new_cfg, createdTime=m.createdTime)
        cols = [f.name for f in self._schema.fields]
        # fail fast on SET/INSERT targets that resolve to no output
        # column — a typo'd or mis-aliased key must not silently no-op
        fold = {c.lower() for c in cols}
        from delta_spark.schema import identity_info as _idinfo

        idents = {c.lower() for c in _idinfo(self._schema)}
        for cl in self.matched + self.not_matched + self.not_matched_by_source:
            if cl.kind == "delete" or cl.values.get("*") == "*":
                continue
            for k in cl.values:
                top = self._set_key_parts(k)[0].lower()
                if top not in fold:
                    raise MergeError(
                        f"{cl.kind.upper()} target {k!r} is not a column of "
                        f"the target table (columns: {cols})")
                if cl.kind == "update" and top in idents:
                    # DeltaErrors.identityColumnUpdateNotSupported
                    raise MergeError(
                        f"UPDATE on IDENTITY column {k!r} is not supported")

        for cl in self.not_matched_by_source:
            if cl.condition:
                cl.condition = self._qualify_target(cl.condition, snapshot)
            if cl.values:
                cl.values = {k: self._qualify_target(v, snapshot)
                             for k, v in cl.values.items()}

        if not self.matched and not self.not_matched_by_source and self.not_matched:
            return self._insert_only(txn, source, cols, num_indexed, cfg)

        # ---- phase 1: find touched files + duplicate detection ----
        # (file keys captured pre-join via read_files_with_index: DV
        # tables anti-join their masks, after which input_file_name()
        # would be ambiguous)
        # Candidates are pruned with the condition's target-only
        # conjuncts (findTouchedFiles data-skipping): a merge keyed on
        # a partition/date column scans only the matching files, not
        # the whole table.
        # (imported at call time: tests spy on the reader entry point)
        from delta_spark.reader import read_files_with_index

        prune_pred = self._target_pruning_predicate(snapshot)
        if self.not_matched_by_source:
            # every target row is examined → whole-table read
            txn.read_whole_table()
            candidates = (snapshot.files_for_scan(prune_pred) if prune_pred
                          else snapshot.all_files)
        elif prune_pred is not None:
            candidates = txn.files_for_scan(prune_pred)
        else:
            txn.read_whole_table()
            candidates = snapshot.all_files
        target_all = read_files_with_index(
            self.spark, snapshot, candidates).selectExpr(
                *[quote_ident(f.name) for f in snapshot.schema.fields],
                "`__file_base` AS `__delta_file`",
                "monotonically_increasing_id() AS `__t_rowid`")
        joined1 = (target_all.alias(self.tgt)
                   .join(source.alias(self.src), F.expr(self.condition), "inner"))
        summary_df = joined1.selectExpr(
            "count(1) AS n_matches",
            "count(DISTINCT __t_rowid) AS n_rows",
            "collect_set(__delta_file) AS files")
        # shuffle width ∝ bytes this command actually moves (guide
        # §2.2), session width as the cap — a small merge stops paying
        # core-count fan-out; None (no source size estimate) = no-op
        src_bytes = plan_size_estimate(source)
        cand_bytes = (sum(f.size or 0 for f in candidates) + src_bytes
                      if src_bytes is not None else None)
        with scoped_dml_shuffle_width(self.spark, cand_bytes):
            summary = summary_df.collect()[0]
        touched_names = list(summary["files"] or [])
        # a target row matched by >1 source rows ⟺ more matches than
        # distinct matched rows — one global aggregate instead of the
        # former per-row groupBy + second aggregate (one less Exchange)
        if (summary["n_matches"] or 0) > (summary["n_rows"] or 0) \
                and self.matched:
            raise MergeError(
                "MERGE cannot update/delete a target row matched by multiple source rows "
                "(non-deterministic); deduplicate the source first")
        touched = match_files_by_name(candidates, touched_names, snapshot.table_path)
        txn.read_files.update(f.path for f in touched)

        need_target_only = bool(self.not_matched_by_source)
        if need_target_only:
            # not-matched-by-source clauses touch every file
            touched_paths = {f.path for f in touched}
            touched = touched + [f for f in snapshot.all_files if f.path not in touched_paths]

        if not touched and not self.not_matched:
            return txn.commit([], "MERGE", self._op_params(), {"numTargetRowsUpdated": "0"})

        touched_bytes = (sum(f.size or 0 for f in touched) + src_bytes
                         if src_bytes is not None else None)
        return self._phase2(txn, source, touched, cols, cfg, touched_bytes)

    def _phase2(self, txn, source: DataFrame, touched, cols, cfg,
                input_bytes: Optional[int]) -> int:
        """Phase 2: FULL OUTER (LEFT OUTER without insert clauses) join
        of the touched files' rows with the source, each row tagged
        with its first matching clause (``__action``, observed for the
        row metrics) and projected to the output columns. The touched
        rows are retired one of two ways:

        * rewrite: every kept row — copies included — is written to
          new files and the touched files are removed;
        * deletion vectors (``delta.enableDeletionVectors``; reference
          MergeIntoCommand.scala:136 shouldWriteDeletionVectors +
          DMLWithDeletionVectorsHelper): matched update/delete rows are
          masked in place and only the update outputs and inserts are
          written — copied rows never move, so a merge touching 1% of
          a file's rows no longer rewrites the other 99%. The changed
          rows are persisted and materialized by one job, which alone
          fills the metrics Observation; the DV bitmap job then runs on
          a driver thread beside the CDF and new-file writes, which
          back-fill its tail."""
        snapshot = txn.snapshot
        out_snapshot = self._out_snapshot(snapshot)
        use_dv = str(cfg.get("delta.enableDeletionVectors",
                             "false")).lower() == "true"
        row_tracked = str(cfg.get("delta.enableRowTracking",
                                  "false")).lower() == "true"
        if use_dv:
            from delta_spark.reader import read_files_with_index

            touched_df = read_files_with_index(
                self.spark, snapshot, touched,
                request_materialized_row_id=row_tracked)
            if row_tracked:
                touched_df = with_stable_row_ids(touched_df, snapshot, touched)
        elif row_tracked:
            touched_df = read_files_with_stable_ids(self.spark, snapshot, touched)
        else:
            touched_df = read_files_df(self.spark, snapshot, touched)
        join_type = "full_outer" if self.not_matched else "left_outer"
        joined = (touched_df.withColumn("__t_exists", F.lit(True)).alias(self.tgt)
                  .join(source.withColumn("__s_exists", F.lit(True)).alias(self.src),
                        F.expr(self.condition), join_type))
        obs = Observation("merge_metrics")
        joined = (joined.withColumn("__action", F.expr(self._action_sql()))
                  .observe(obs, *self._metric_cols()))
        row_tracking_sqls = []
        if row_tracked:
            # copied + updated target rows keep their stable row id;
            # changed rows take the new commit version (null → default);
            # inserted rows are brand new (null both → defaults)
            mat = materialized_row_id_col(snapshot)
            matv = materialized_row_commit_col(snapshot)
            if mat is not None:
                row_tracking_sqls.append(
                    "CASE WHEN __action LIKE 'i%' THEN CAST(NULL AS BIGINT) "
                    f"ELSE {self.tgt}.{quote_ident(mat)} END AS {quote_ident(mat)}")
            if matv is not None:
                row_tracking_sqls.append(
                    f"CASE WHEN __action = 'copy' THEN {self.tgt}.{quote_ident(matv)} "
                    f"ELSE CAST(NULL AS BIGINT) END AS {quote_ident(matv)}")
        if use_dv:
            # copied rows stay where they are: only changed rows flow on
            # (planned here, at the session's shuffle width)
            joined = joined.filter(
                "__action <> 'copy' AND __action <> 'skip'").persist()
        with ExitStack() as stack:
            stack.enter_context(scoped_dml_shuffle_width(self.spark, input_bytes))
            if use_dv:
                stack.callback(joined.unpersist)
                joined.count()
                positions = (joined.filter("__t_exists IS NOT NULL")
                             .selectExpr("__file_base AS file_base",
                                         "__row_idx AS row_index"))
                dv = stack.enter_context(_on_driver_thread(
                    mask_rows_with_dvs, self.spark, txn, touched, positions))
            projected = joined.filter(self._KEEP_SQL).selectExpr(
                *self._output_sqls(cols), *row_tracking_sqls, "`__action`")
            resultw = self._finalize_inserts(self._apply_generated_merge(
                projected, snapshot, keep_action=True), snapshot)
            cdc_actions = []
            if cdf_enabled(cfg):
                # insert images come from the FINALIZED frame so
                # allocated identity values in the feed match the
                # written rows
                cdc_actions = self._write_cdf(joined, cols, out_snapshot,
                                              insert_df=resultw)
            adds = write_table_files(resultw.drop("__action"), out_snapshot)
        dv_adds, removes = [], [f.remove() for f in touched]
        if use_dv:
            dv_adds, removes, _ = dv["val"]
        try:
            m = obs.get
            metrics = {
                "numTargetRowsUpdated": str(m.get("updated") or 0),
                "numTargetRowsDeleted": str(m.get("deleted") or 0),
                "numTargetRowsInserted": str(m.get("inserted") or 0),
                "numTargetRowsCopied": str(m.get("copied") or 0),
            }
        except Exception:
            metrics = {}
        metrics["numTargetFilesRemoved"] = str(len(removes))
        metrics["numTargetFilesAdded"] = str(len(adds))
        if use_dv:
            metrics["numDeletionVectorsAdded"] = str(len(dv_adds))
        evo = [self._evolution_meta] if self._evolution_meta is not None else []
        return txn.commit(
            evo + list(dv_adds) + list(adds) + list(removes) + list(cdc_actions),
            "MERGE", self._op_params(), metrics)

    # -- helpers ----------------------------------------------------------

    def _target_only_conjunct(self, conjunct: str, target_cols: set,
                              source_cols: set) -> Optional[str]:
        """If the conjunct references only TARGET columns, return it
        rewritten with the target alias stripped (usable against the
        bare table schema for file skipping); else None."""
        out = []
        i, n = 0, len(conjunct)
        while i < n:
            ch = conjunct[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if conjunct[j] == "'":
                        if j + 1 < n and conjunct[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(conjunct[i:j + 1])
                i = j + 1
                continue
            m = _IDENT_RE.match(conjunct, i)
            if m:
                word = m.group(0)
                j = m.end()
                if j < n and conjunct[j] == ".":
                    m2 = _IDENT_RE.match(conjunct, j + 1)
                    if m2:
                        if word == self.tgt:
                            out.append(m2.group(0))
                            i = m2.end()
                            continue
                        return None  # source- (or unknown-alias-) qualified
                nxt = conjunct[j:j + 1]
                if nxt == "(" or word.lower() in _SQL_WORDS:
                    out.append(word)  # function call / keyword
                elif word in source_cols or word not in target_cols:
                    # unqualified source ref, ambiguous ref, or an
                    # identifier that is no column of the target at
                    # all (outer-scope reference / typo) — not a
                    # sound pruning conjunct
                    return None
                else:
                    out.append(word)
                i = j
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    def _target_pruning_predicate(self, snapshot) -> Optional[str]:
        """Target-only conjuncts of the merge condition, for phase-1
        file skipping (ClassicMergeExecutor.scala:72-185
        findTouchedFiles data-skips on the merge condition first).
        Sound: a file no row of which can satisfy these conjuncts
        cannot contain a matched row."""
        from delta_spark import predicates as P
        target_cols = {f.name for f in snapshot.schema.fields}
        source_cols = set(self.source.columns)
        kept = []
        for c in _split_top_and(self.condition):
            r = self._target_only_conjunct(c, target_cols, source_cols)
            if r is None or not r.strip():
                continue
            try:
                # a kept conjunct becomes the transaction's recorded
                # read predicate; an unparseable one would defeat both
                # file skipping and concurrent-append verification
                P.parse_predicate(r)
            except Exception:
                continue
            kept.append(f"({r.strip()})")
        return " AND ".join(kept) if kept else None

    def _insert_only(self, txn, source: DataFrame, cols: list[str],
                     num_indexed: int, cfg: dict) -> int:
        """LEFT ANTI fast path (InsertOnlyMergeExecutor.scala:59):
        no target file is rewritten; Catalyst broadcast-joins when the
        target key projection is small."""
        snapshot = txn.snapshot
        prune_pred = self._target_pruning_predicate(snapshot)
        if prune_pred is not None:
            # anti-join only needs files that could contain a match
            candidates = txn.files_for_scan(prune_pred)
            target = read_files_df(self.spark, snapshot, candidates)
        else:
            txn.read_whole_table()
            candidates = snapshot.all_files
            target = read_files_df(self.spark, snapshot)
        new_rows = (source.alias(self.src)
                    .join(target.alias(self.tgt), F.expr(self.condition), "left_anti"))
        parts = []
        remaining = new_rows
        from delta_spark.schema import generation_expressions

        for cl in self.not_matched:
            vals = self._insert_values_map(self._expand_star(cl, cols))
            subset = remaining.filter(cl.condition) if cl.condition else remaining
            schema = self._schema
            part = subset.select(*[
                (F.expr(vals[c.lower()]) if c.lower() in vals
                 else F.lit(None)).cast(schema[c].dataType).alias(c)
                for c in cols])
            # omitted DEFAULT columns take their declared expression
            from delta_spark.schema import default_values as _dv

            dflts = {c: e for c, e in _dv(schema).items()
                     if c.lower() not in vals}
            if dflts:
                part = part.select(*[
                    F.expr(dflts[c]).cast(schema[c].dataType).alias(c)
                    if c in dflts else F.col(c) for c in cols])
            # generated columns this INSERT clause didn't assign are
            # computed from the inserted row (UpdateExpressionsSupport)
            regen = {g: e for g, e in generation_expressions(schema).items()
                     if g.lower() not in vals}
            if regen:
                part = part.select(*[
                    F.expr(regen[c]).cast(schema[c].dataType).alias(c)
                    if c in regen else F.col(c) for c in cols])
            parts.append(part)
            if cl.condition:
                remaining = remaining.filter(~F.coalesce(F.expr(cl.condition), F.lit(False)))
            else:
                remaining = remaining.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = self._finalize_inserts(out, snapshot)
        src_bytes = plan_size_estimate(source)
        in_bytes = (sum(f.size or 0 for f in candidates) + src_bytes
                    if src_bytes is not None else None)
        with scoped_dml_shuffle_width(self.spark, in_bytes):
            cdc_actions = []
            if cdf_enabled(cfg):
                cdc_actions = write_cdc_files(
                    out.withColumn("_change_type", F.lit("insert")),
                    snapshot.table_path, self._out_snapshot(snapshot))
            adds = write_table_files(out, self._out_snapshot(snapshot))
        metrics = {"numTargetRowsInserted": str(sum(a.num_records or 0 for a in adds)),
                   "numTargetFilesAdded": str(len(adds))}
        evo = [self._evolution_meta] if self._evolution_meta is not None else []
        return txn.commit(evo + list(adds) + list(cdc_actions), "MERGE", self._op_params(), metrics)

    def _qualify_target(self, expr: str, snapshot) -> str:
        """NOT MATCHED BY SOURCE clauses resolve unqualified names
        against the TARGET only (source columns are out of scope, per
        deltaMerge's resolution rules) — qualify bare target-column
        identifiers so the joined frame isn't ambiguous."""
        cols = {f.name for f in snapshot.schema.fields}
        out = []
        i, n = 0, len(expr)
        while i < n:
            ch = expr[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if expr[j] == "'" and not (j + 1 < n and expr[j + 1] == "'"):
                        break
                    j += 2 if expr[j] == "'" else 1
                out.append(expr[i:j + 1])
                i = j + 1
                continue
            m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", expr[i:])
            if m:
                word = m.group(0)
                prev = expr[i - 1] if i > 0 else ""
                nxt_i = i + len(word)
                nxt = expr[nxt_i:nxt_i + 1]
                if word in cols and prev != "." and nxt != "(":
                    out.append(f"{self.tgt}.{word}")
                else:
                    out.append(word)
                i = nxt_i
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    # rows to keep in phase-2 output: neither source-only rows with no
    # applicable insert clause ('skip') nor deleted rows ('d...' tags)
    _KEEP_SQL = "__action <> 'skip' AND NOT (__action LIKE 'd%')"

    def _action_sql(self) -> str:
        """__action as ONE SQL CASE text: per row category (matched,
        source-only, target-only) the first clause whose condition is
        true tags the row '<kind><category><index>' (a NULL condition
        falls through to the next WHEN); untagged rows are 'copy'
        (target rows) or 'skip' (source rows)."""
        def cascade(clauses: list[_Clause], prefix: str, default: str) -> str:
            whens = []
            for i, cl in enumerate(clauses):
                tag = f"{cl.kind[0]}{prefix}{i}"
                cond = f"({cl.condition})" if cl.condition else "true"
                whens.append(f"WHEN {cond} THEN '{tag}'")
            if not whens:
                return f"'{default}'"
            return f"(CASE {' '.join(whens)} ELSE '{default}' END)"

        m = cascade(self.matched, "m", "copy")
        i = cascade(self.not_matched, "i", "skip")
        s = cascade(self.not_matched_by_source, "s", "copy")
        return ("CASE WHEN (__t_exists IS NOT NULL "
                "AND __s_exists IS NOT NULL) "
                f"THEN {m} WHEN (__t_exists IS NULL) THEN {i} "
                f"ELSE {s} END")

    def _metric_cols(self):
        """The 4 observe() aggregates as parsed SQL. Tags are
        wildcard-free and only delete tags start with 'd' (an unmatched
        source row is 'skip'), so LIKE 'd%' counts deleted target rows
        exactly."""
        return [F.expr(f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS {name}")
                for name, cond in (("updated", "__action LIKE 'u%'"),
                                   ("deleted", "__action LIKE 'd%'"),
                                   ("inserted", "__action LIKE 'i%'"),
                                   ("copied", "__action = 'copy'"))]

    def _finalize_inserts(self, df, snapshot):
        """Identity allocation for merge-inserted rows (IdentityColumn
        role): insert clauses that omit an identity column leave NULL
        slots — fill them from the high-watermark and advance the
        watermark in this commit's Metadata (merged into the pending
        schema-evolution metadata when present)."""
        from delta_spark.constraints import fill_identity_nulls
        from delta_spark.schema import identity_info, with_identity_watermark
        from delta_spark.util import schema_from_json, schema_to_json

        schema = self._schema
        if not identity_info(schema) or not self.not_matched:
            return df
        explicit = set()
        for cl in self.not_matched:
            if cl.values.get("*") == "*":
                explicit |= {c.lower() for c in self.source.columns}
            else:
                explicit |= {self._set_key_parts(k)[0].lower()
                             for k in cl.values}
        # only insert-action rows need allocation + pinning; copied and
        # updated rows keep their existing identity values untouched
        has_action = "__action" in df.columns
        if has_action:
            ins = df.filter("__action LIKE 'i%'")
            rest = df.filter("NOT (__action LIKE 'i%')")
        else:  # insert-only fast path: every row is an insert
            ins, rest = df, None
        ins, filled = fill_identity_nulls(ins, schema, explicit)
        if not filled:
            return df
        # the watermark must bound the values actually written — pin
        # them (mono-id is not stable across re-evaluation), then agg
        ins = ins.localCheckpoint(eager=True)
        from delta_spark.actions import Metadata as _Metadata

        base = self._evolution_meta if self._evolution_meta is not None \
            else snapshot.metadata
        new_schema = schema_from_json(base.schemaString)
        infos = identity_info(schema)
        base_marks = {c: i["highWaterMark"]
                      for c, i in identity_info(new_schema).items()}
        changed = False
        for col in filled:
            step = int(infos[col]["step"])
            # watermark is directional: the most-advanced value is the
            # max for positive step, the MIN for negative step
            agg = F.max if step > 0 else F.min
            mx = ins.agg(agg(F.col(col))).collect()[0][0]
            old = base_marks.get(col)
            if mx is not None and (
                    old is None
                    or (step > 0 and int(mx) > int(old))
                    or (step < 0 and int(mx) < int(old))):
                new_schema = with_identity_watermark(new_schema, col, int(mx))
                changed = True
        if changed:
            self._evolution_meta = _Metadata(
                id=base.id, name=base.name, description=base.description,
                format=base.format, schemaString=schema_to_json(new_schema),
                partitionColumns=base.partitionColumns,
                configuration=base.configuration, createdTime=base.createdTime)
        return rest.unionByName(ins) if rest is not None else ins

    def _clause_tags(self):
        """(action tag, clause) pairs — the tag scheme _action_sql
        stamps rows with."""
        return ([(f"{c.kind[0]}m{i}", c) for i, c in enumerate(self.matched)]
                + [(f"{c.kind[0]}i{i}", c) for i, c in enumerate(self.not_matched)]
                + [(f"{c.kind[0]}s{i}", c) for i, c in enumerate(self.not_matched_by_source)])

    def _explicitly_assigns(self, cl, col: str) -> bool:
        if cl.values.get("*") == "*":
            return True
        return any(self._set_key_parts(k)[0].lower() == col.lower()
                   for k in cl.values)

    def _apply_generated_merge(self, df, snapshot, keep_action: bool = False):
        """Recompute GENERATED ALWAYS AS columns for rows whose
        producing clause did not assign them (UpdateExpressionsSupport
        :478 — no user expression ⇒ regenerate from the post-update
        row). Rides the __action tag (dropped on return unless
        ``keep_action``); copied rows keep their stored values."""
        from delta_spark.schema import generation_expressions

        gens = generation_expressions(self._schema)
        if not gens or "__action" not in df.columns:
            return df if keep_action and "__action" in df.columns \
                else df.drop("__action")
        texts = []
        for c in df.columns:
            if c == "__action":
                if keep_action:
                    texts.append("`__action`")
                continue
            e = gens.get(c)
            tags = [t for t, cl in self._clause_tags()
                    if cl.kind != "delete"
                    and not self._explicitly_assigns(cl, c)]
            if e is None or not tags:
                texts.append(quote_ident(c))
                continue
            in_tags = ", ".join(f"'{t}'" for t in tags)
            texts.append(
                f"CASE WHEN __action IN ({in_tags}) THEN "
                f"CAST(({e}) AS {sql_type(df.schema[c].dataType)}) "
                f"ELSE {quote_ident(c)} END AS {quote_ident(c)}")
        return df.selectExpr(*texts)

    def _tgt_ref(self, col: str) -> str:
        """SQL text of a target column's pre-merge value; schema-evolved
        columns don't exist on the target side of the join, so target
        rows have no value for them (NULL)."""
        if col in self._target_cols:
            return f"{self.tgt}.{quote_ident(col)}"
        return f"CAST(NULL AS {sql_type(self._schema[col].dataType)})"

    def _output_sqls(self, cols: list[str]) -> list[str]:
        """``<value> AS `c``` per output column, all parsed by ONE
        selectExpr (one py4j round trip for the whole projection): a
        CASE over __action picks the tagged clause's value — the SET /
        INSERT expression, the column's DEFAULT for an omitted insert
        column, else the target's own value — cast to the column
        type."""
        schema = self._schema
        schema_cols = [f.name for f in schema.fields]
        defaults = default_values(schema)
        branches = []  # (tag, {lower-cased column: value} | {column: value})
        for tag, cl in self._clause_tags():
            if cl.kind == "delete":
                continue
            vals = self._expand_star(cl, schema_cols)
            if cl.kind == "insert":
                branches.append((tag, cl.kind, self._insert_values_map(vals)))
            else:
                branches.append((tag, cl.kind, set_value_sqls(
                    [(self._set_key_parts(k), v) for k, v in vals.items()],
                    schema, self._tgt_ref)))
        out = []
        for c in cols:
            dts = sql_type(schema[c].dataType)
            whens = []
            for tag, kind, vals in branches:
                if kind == "insert":
                    v = vals.get(c.lower()) or defaults.get(c) or "NULL"
                else:
                    v = vals.get(c) or self._tgt_ref(c)
                whens.append(f"WHEN __action = '{tag}' THEN CAST(({v}) AS {dts})")
            value = self._tgt_ref(c)
            if whens:
                # tags are disjoint, so WHEN order is irrelevant
                value = f"CASE {' '.join(whens)} ELSE ({value}) END"
            out.append(f"CAST(({value}) AS {dts}) AS {quote_ident(c)}")
        return out

    def _write_cdf(self, joined, cols: list[str], snapshot, insert_df):
        """Emit CDF rows: update_preimage/update_postimage, delete,
        insert (MergeOutputGeneration CDF projection). Insert images
        are taken verbatim from ``insert_df`` (the finalized output
        frame, __action kept), so identity values allocated by
        _finalize_inserts land identically in the feed. Pre-images of
        schema-evolved columns are NULL (reference
        MergeOutputGeneration — the pre-merge rows never had a
        value)."""
        pre_sqls = [f"{self._tgt_ref(c)} AS {quote_ident(c)}" for c in cols]
        updated = joined.filter("__action LIKE 'u%'")
        pre = updated.selectExpr(*pre_sqls, "'update_preimage' AS _change_type")
        post = (self._apply_generated_merge(
                    updated.selectExpr(*self._output_sqls(cols), "`__action`"),
                    snapshot)
                .withColumn("_change_type", F.lit("update_postimage")))
        dels = joined.filter("__action LIKE 'd%'").selectExpr(
            *pre_sqls, "'delete' AS _change_type")
        ins = (insert_df.filter("__action LIKE 'i%'")
               .selectExpr(*[quote_ident(c) for c in cols],
                           "'insert' AS _change_type"))
        cdf_df = pre.unionByName(post).unionByName(dels).unionByName(ins)
        return write_cdc_files(cdf_df, snapshot.table_path, snapshot)

    def _op_params(self) -> dict:
        return {
            "predicate": self.condition,
            "matchedPredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.matched]),
            "notMatchedPredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.not_matched]),
            "notMatchedBySourcePredicates": json.dumps(
                [{"actionType": c.kind, **({"predicate": c.condition} if c.condition else {})}
                 for c in self.not_matched_by_source]),
        }

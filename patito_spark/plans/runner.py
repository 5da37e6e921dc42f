"""Partition-granular validation runs: verdicts, violation rows, resume.

The reference raises one in-memory exception and forgets everything
(``DataFrameValidationError``); the north rule requires the patito error
taxonomy to be *persisted*: per-partition pass/fail verdicts and typed
violation rows written to a checkpoint table with lineage + metrics, so an
interrupted 10^12-row run resumes at partition granularity.

Execution plan per run (SURVEY §4.3):

1. **Job 0 (driver)** — schema-level checks (missing/superfluous/dtype) from
   ``df.schema``; recorded once per run with ``partition = '*'``.
2. **pending = partitions ∉ checkpoint** — the verdict table is read back
   and anti-joined (driver-side set difference; partition lists are small —
   even 10^12 rows is ~10^4-10^5 date partitions).
3. **Job 1** — ``df.filter(partition ∈ pending).groupBy(partition).agg(ALL
   check terms)``: one scan of only the pending partitions, one tiny shuffle
   row per partition.
4. **Job 2** — global uniqueness with per-partition attribution:
   ``groupBy(column, value, partition)`` partials (``_unique_partials``,
   computed once per run) → global per-key totals → each partition charged
   its own members of cross-partition duplicate groups, in ONE charge job
   (``_charge``) that also yields the prior-only charge on exact resume.
5. Verdicts + violations appended per run (built on the driver, shipped to
   the JVM as Arrow tables); a re-run with the same checkpoint directory
   skips finished partitions (idempotent resume).

Resume and global uniqueness: uniqueness is a *global* property, but
finished partitions are not re-scanned on resume.  Two modes:

- ``unique_resume="local"`` (default): a duplicate group spanning a
  finished and a pending partition is charged only to the pending side —
  cheap, and exact whenever runs don't split duplicate groups.
- ``unique_resume="exact"``: every run persists its per-(partition,
  column, key-hash) local counts to a third checkpoint dataset
  (``unique_partials``).  A resumed run merges the pending partitions'
  fresh partials with the persisted ones — no finished partition is
  re-scanned — charges pending partitions against the *merged* totals,
  and emits retroactive delta violation rows for finished partitions
  whose members joined a cross-boundary duplicate group.  The cumulative
  violation table therefore always equals what one uninterrupted run
  would have produced.  The fresh partials are cached for the run: the
  charge job computes them and the partials append reads them back, so
  the input is scanned once for uniqueness.  Cost: the partials dataset
  is O(distinct keys) (16-byte md5 per key — the one checkpoint artifact
  that scales with data, which is inherent to exact cross-run
  uniqueness), and each resumed run re-shuffles it once.  Crash-safe:
  partials are written *before* verdicts and are only trusted when their
  (partition, run_id) matches a persisted verdict, so a run killed
  between the two writes re-runs cleanly without double-counting.  A
  retry under the SAME explicit run_id is refused (its partials would
  share the orphans' trust key); retry under a new one.

Checkpoint storage is a parquet directory pair (``verdicts/``,
``violations/``) written with dynamic partition append — the layout is
Iceberg-compatible (swap ``_write`` for ``writeTo(...).append()`` when an
Iceberg catalog is configured; this sandbox has no catalog).
"""

from __future__ import annotations

import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..errors import get_exc_type
from ..sources.io import arrow_frame, write_report_table
from .checks import _Ctx, _compile_level, _transform_df

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("passed", T.BooleanType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("elapsed_sec", T.DoubleType()),
        # per-partition lineage: the source files this partition's rows came
        # from (capped sample; '' for non-file sources) — the north rule
        # persists lineage next to the verdicts so an interrupted run can be
        # traced back to its inputs
        T.StructField("input_files", T.ArrayType(T.StringType())),
    ]
)

#: lineage cap — at web scale one partition can span thousands of files;
#: the verdict row keeps a bounded sorted sample
_LINEAGE_FILE_CAP = 64

#: exact-resume partials: one row per (partition, unique column, key hash)
#: with its local member count.  Hashes, never raw key values, are
#: persisted — bounded width and no payload leakage into the checkpoint.
UNIQUE_PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("key_hash", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("violation_count", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)


class RunResult:
    def __init__(
        self,
        run_id: str,
        verdicts: list,
        violations: list,
        skipped_partitions: list,
    ) -> None:
        self.run_id = run_id
        self.verdicts = verdicts
        self.violations = violations
        self.skipped_partitions = skipped_partitions

    @property
    def passed(self) -> bool:
        return all(v["passed"] for v in self.verdicts)

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"RunResult(run_id={self.run_id!r}, partitions={len(self.verdicts)}, "
            f"skipped={len(self.skipped_partitions)}, passed={self.passed})"
        )


class ValidationRunner:
    """Checkpointed, resumable, per-partition validation of a model spec.

    ``partition_col`` may be any existing column or a named expression to
    derive one (e.g. ``("day", F.to_date("warc_ts"))``) — at real scale use
    the table's physical partition column so the filter prunes at the scan.
    """

    def __init__(
        self,
        model: type,
        partition_col,
        checkpoint_dir: Optional[str] = None,
        checkpoint_table: Optional[str] = None,
        unique_resume: str = "local",
    ) -> None:
        if unique_resume not in ("local", "exact"):
            raise ValueError("unique_resume must be 'local' or 'exact'")
        self.unique_resume = unique_resume
        self.model = model
        if isinstance(partition_col, tuple):
            self.partition_name, self.partition_expr = partition_col
        else:
            self.partition_name, self.partition_expr = partition_col, None
        if checkpoint_dir and checkpoint_table:
            raise ValueError(
                "pass checkpoint_dir (parquet path) OR checkpoint_table "
                "(catalog table), not both"
            )
        self.checkpoint_dir = checkpoint_dir
        #: catalog checkpoint (the north rule persists verdicts + lineage to
        #: a checkpoint TABLE): verdicts land in <name>_verdicts and
        #: violations in <name>_violations via the V2 writer — real Iceberg
        #: snapshot commits under an Iceberg catalog
        self.checkpoint_table = checkpoint_table

    # -- checkpoint I/O --------------------------------------------------------
    def _read_dataset(
        self, spark: SparkSession, suffix: str, schema: T.StructType
    ) -> Optional[DataFrame]:
        """One checkpoint dataset, or None before its first write.  Parquet
        reads pass the checkpoint schema, so no footer-inference job runs."""
        if self.checkpoint_table:
            name = f"{self.checkpoint_table}_{suffix}"
            return spark.table(name) if spark.catalog.tableExists(name) else None
        if self.checkpoint_dir:
            try:
                return spark.read.schema(schema).parquet(
                    f"{self.checkpoint_dir}/{suffix}"
                )
            except Exception:
                return None
        return None

    def _read_verdicts(self, spark: SparkSession) -> Optional[DataFrame]:
        return self._read_dataset(spark, "verdicts", VERDICT_SCHEMA)

    def _finished_partitions(self, spark: SparkSession) -> set:
        """``(partition, run_id)`` of every checkpointed verdict — the one
        read of the verdict table per run: it decides the pending
        partitions and which persisted partials are trusted."""
        verdicts = self._read_verdicts(spark)
        if verdicts is None:
            return set()
        return {
            (r["partition"], r["run_id"])
            for r in verdicts.select("partition", "run_id").distinct().collect()
        }

    def _read_unique_partials(
        self, spark: SparkSession, finished_runs: set
    ) -> Optional[DataFrame]:
        """Persisted partials from FINISHED runs only, as ``_p, k, h, cnt``.

        A partials row is trusted iff its (partition, run_id) matches a
        persisted verdict — partials are written before verdicts, so a
        crash between the two writes leaves orphan rows that a re-run of
        the partition would otherwise double-count.
        """
        if not finished_runs:
            return None
        raw = self._read_dataset(spark, "unique_partials", UNIQUE_PARTIALS_SCHEMA)
        if raw is None:
            return None
        keys = F.broadcast(
            arrow_frame(spark, list(finished_runs), "partition string, run_id string")
        )
        # eqNullSafe: the NULL partition's partials must survive the join
        cond = raw["partition"].eqNullSafe(keys["partition"]) & (
            raw["run_id"] == keys["run_id"]
        )
        return raw.join(keys, cond, "left_semi").select(
            F.col("partition").alias("_p"),
            F.col("column").alias("k"),
            F.col("key_hash").alias("h"),
            "cnt",
        )

    def _refuse_torn_run_id(
        self, spark: SparkSession, run_id: str, finished: set
    ) -> None:
        """An explicit *run_id* that already owns partials of an unfinished
        partition is a retry of a torn attempt: the retry's partials would
        land beside the orphans under the same (partition, run_id) key, and
        once its verdict is written both copies would be trusted."""
        raw = self._read_dataset(spark, "unique_partials", UNIQUE_PARTIALS_SCHEMA)
        if raw is None:
            return
        orphans = raw.filter(
            (F.col("run_id") == run_id) & _pending(F.col("partition"), finished)
        )
        if orphans.limit(1).count():
            raise ValueError(
                f"run_id {run_id!r} already has unique partials for a "
                "partition without a verdict (an interrupted attempt); "
                "retry under a new run_id"
            )

    def _persist_unique_partials(self, partials: DataFrame, run_id: str) -> None:
        """Distributed append of this run's partials (NEVER collected —
        the partials dataset is O(distinct keys), not driver-sized)."""
        out = partials.select(
            F.col("_p").alias("partition"),
            F.col("k").alias("column"),
            F.col("h").alias("key_hash"),
            F.col("cnt"),
            F.lit(run_id).alias("run_id"),
        )
        if self.checkpoint_table:
            write_report_table(out, f"{self.checkpoint_table}_unique_partials")
        elif self.checkpoint_dir:
            out.write.mode("append").parquet(
                f"{self.checkpoint_dir}/unique_partials"
            )

    def _persist(
        self, spark: SparkSession, verdicts: list, violations: list
    ) -> None:
        """Append the driver-built verdict and violation rows.  The rows
        reach the JVM as one Arrow table each, never as a Python RDD."""
        if not (self.checkpoint_table or self.checkpoint_dir):
            return
        for rows, schema, suffix in (
            (verdicts, VERDICT_SCHEMA, "verdicts"),
            (violations, VIOLATION_SCHEMA, "violations"),
        ):
            if not rows:
                continue
            out = arrow_frame(spark, rows, schema).coalesce(1)
            if self.checkpoint_table:
                write_report_table(out, f"{self.checkpoint_table}_{suffix}")
            else:
                out.write.mode("append").parquet(f"{self.checkpoint_dir}/{suffix}")

    # -- run ---------------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        run_id: Optional[str] = None,
        where=None,
    ) -> RunResult:
        """Run validation over (pending ∩ *where*) partitions.

        ``where`` (Column or SQL string) scopes the run — it lands directly
        on the scan as a pushed filter, so scoping by the physical partition
        column prunes files before any byte is read (SURVEY §4.2: expose
        ``where=`` scoping on the run API).
        """
        spark = df.sparkSession
        t0 = time.time()
        model = self.model

        if where is not None:
            df = df.filter(where)
        df = _transform_df(df, model)
        if self.partition_expr is not None:
            df = df.withColumn(self.partition_name, self.partition_expr)
        part = F.col(self.partition_name).cast("string")

        finished_runs = self._finished_partitions(spark)
        finished = {p for p, _ in finished_runs}
        exact = self.unique_resume == "exact"
        if run_id is None:
            run_id = uuid.uuid4().hex[:12]
        elif exact:
            self._refuse_torn_run_id(spark, run_id, finished)
        if finished:
            df = df.filter(_pending(part, finished))

        # Job 0: schema-level errors — apply to the whole run
        schema_violations: list = []
        ctx = _Ctx()
        schema_errors: list = []
        _compile_level(
            ctx=ctx,
            errors=schema_errors,
            specs=model.__column_specs__,
            model_config=model.model_config,
            # the declared partition column is runner plumbing: when it is
            # NOT a model column, don't report it superfluous — but when it
            # IS one (the normal case), it must stay visible or V1 would
            # report it missing
            df_columns=[
                c
                for c in df.columns
                if c != self.partition_name
                or self.partition_name in model.__column_specs__
            ],
            df_types={f.name: f.dataType for f in df.schema.fields},
            columns=None,
            allow_missing_columns=False,
            allow_superfluous_columns=False,
            path="",
            loc="",
            guard=None,
        )
        for err in schema_errors:
            schema_violations.append(
                {
                    "partition": "*",
                    "column": err.loc_tuple()[0],
                    "error_type": get_exc_type(err.exc.__class__),
                    "message": str(err.exc),
                    "violation_count": int(getattr(err.exc, "count", 1)),
                    "run_id": run_id,
                }
            )

        # Job 1: per-partition single-pass aggregation
        verdicts: list = []
        violations: list = list(schema_violations)
        per_partition_errors: dict = {}
        rows_per_partition: dict = {}
        # lineage rides the same aggregation: a capped, sorted sample of the
        # source files behind each partition ('' = non-file source, dropped).
        # input_file_name() is nondeterministic, so it must be projected as
        # a column BEFORE the aggregate (Spark rejects it inside one).
        lineage_df = df.withColumn("_src_file", F.input_file_name())
        lineage_term = F.slice(
            F.sort_array(F.array_remove(F.collect_set("_src_file"), "")),
            1,
            _LINEAGE_FILE_CAP,
        ).alias("_files")
        files_per_partition: dict = {}
        if ctx.terms:
            agg_rows = (
                lineage_df.groupBy(part.alias("_partition"))
                .agg(F.count(F.lit(1)).alias("_rows"), lineage_term, *ctx.terms.values())
                .collect()
            )
            # Job 1a: bounded per-partition enum offending-value samples,
            # fetched only for enum columns that violated somewhere (the
            # single-pass agg carries native counts, never a collect_set)
            enum_fetch = [
                e
                for e in ctx.enum_samples
                if any((row.asDict().get(e[3]) or 0) > 0 for row in agg_rows)
            ]
            enum_by_part = (
                _enum_samples_by_partition(df, part, enum_fetch)
                if enum_fetch
                else {}
            )
            for row in agg_rows:
                d = row.asDict()
                p = d["_partition"]
                for alias, _, _, _ in enum_fetch:
                    d[alias] = enum_by_part.get((p, alias), [])
                rows_per_partition[p] = d["_rows"]
                files_per_partition[p] = list(d["_files"] or [])
                errs: list = []
                for handler in ctx.handlers:
                    handler(d, errs)
                per_partition_errors[p] = errs
        else:
            for row in (
                lineage_df.groupBy(part.alias("_partition"))
                .agg(F.count(F.lit(1)).alias("count"), lineage_term)
                .collect()
            ):
                rows_per_partition[row["_partition"]] = row["count"]
                files_per_partition[row["_partition"]] = list(row["_files"] or [])
                per_partition_errors[row["_partition"]] = []

        # Job 2: uniqueness with per-partition attribution — each partition
        # is charged its own members of globally-duplicated groups
        retro_violations: list = []
        if ctx.unique_targets:
            partials = _unique_partials(df, part, ctx.unique_targets)
            if exact:
                prior = self._read_unique_partials(spark, finished_runs)
                # one scan: the charge job materialises the partials, the
                # checkpoint append reads them back from the cache
                partials.persist()
                try:
                    charge, prior_charge = _charge(partials, prior)
                    # write partials BEFORE verdicts: a crash between the
                    # two leaves orphans that _read_unique_partials ignores
                    self._persist_unique_partials(partials, run_id)
                finally:
                    partials.unpersist()
                pending_parts = set(per_partition_errors)
                for (p, loc), count in charge.items():
                    if p in pending_parts:
                        per_partition_errors[p].append(_dup_error(loc, count))
                        continue
                    # finished partition retroactively joined a
                    # cross-boundary duplicate group: emit the DELTA so the
                    # cumulative violation table equals what one
                    # uninterrupted run would have charged
                    delta = count - prior_charge.get((p, loc), 0)
                    if delta > 0:
                        err = _dup_error(loc, delta)
                        retro_violations.append(
                            {
                                "partition": p,
                                "column": err.loc_tuple()[0],
                                "error_type": get_exc_type(err.exc.__class__),
                                "message": str(err.exc),
                                "violation_count": delta,
                                "run_id": run_id,
                            }
                        )
            else:
                charge, _ = _charge(partials)
                for (p, loc), count in charge.items():
                    per_partition_errors.setdefault(p, []).append(
                        _dup_error(loc, count)
                    )

        finished_at = time.time()
        for p, errs in per_partition_errors.items():
            part_violations = [
                {
                    "partition": p,
                    "column": e.loc_tuple()[0],
                    "error_type": get_exc_type(e.exc.__class__),
                    "message": str(e.exc),
                    "violation_count": int(getattr(e.exc, "count", 1)),
                    "run_id": run_id,
                }
                for e in errs
            ]
            violations.extend(part_violations)
            verdicts.append(
                {
                    "partition": p,
                    "passed": not part_violations and not schema_violations,
                    "n_rows": int(rows_per_partition.get(p, 0)),
                    "n_violations": int(
                        sum(v["violation_count"] for v in part_violations)
                    ),
                    "run_id": run_id,
                    "finished_at": finished_at,
                    "elapsed_sec": finished_at - t0,
                    "input_files": files_per_partition.get(p, []),
                }
            )

        violations.extend(retro_violations)
        self._persist(spark, verdicts, violations)
        # None (the null partition's checkpoint key) sorts first
        skipped = sorted(finished, key=lambda p: (p is not None, p))
        return RunResult(run_id, verdicts, violations, skipped)

    def report(self, spark: SparkSession) -> DataFrame:
        """The persisted violations table for this checkpoint."""
        if self.checkpoint_table:
            return spark.table(f"{self.checkpoint_table}_violations")
        return spark.read.parquet(f"{self.checkpoint_dir}/violations")

    def verdicts(self, spark: SparkSession) -> DataFrame:
        if self.checkpoint_table:
            return spark.table(f"{self.checkpoint_table}_verdicts")
        return spark.read.parquet(f"{self.checkpoint_dir}/verdicts")


def _dup_error(loc: str, count: int):
    from ..errors import RowValueError
    from .checks import _wrap

    return _wrap(
        RowValueError, f"{count} rows with duplicated values.", loc, count
    )


def _enum_samples_by_partition(df: DataFrame, part, enum_fetch: list) -> dict:
    """Distinct offending enum values per (partition, enum alias), bounded
    end to end: the distinct is a spillable hash aggregate and a
    per-partition ``row_number`` caps what each partition contributes to
    the driver.  One tiny job per violating enum column, and only when a
    violation exists somewhere."""
    from .checks import _ENUM_SAMPLE_CAP  # noqa: PLC0415

    out: dict = {}
    for alias, value_expr, is_array, _ in enum_fetch:
        vals = df.select(part.alias("_p"), value_expr.alias("_v"))
        if is_array:
            vals = vals.select("_p", F.explode("_v").alias("_v"))
        vals = vals.filter(F.col("_v").isNotNull()).distinct()
        w = Window.partitionBy("_p").orderBy("_v")
        capped = vals.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= _ENUM_SAMPLE_CAP
        )
        for r in capped.collect():
            out.setdefault((r["_p"], alias), []).append(r["_v"])
    return out


def _unique_partials(df: DataFrame, part, targets: list) -> DataFrame:
    """Per-(partition, column, key) local member counts — one scan.

    Stage 1 (salted by the partition column itself + key value):
    ``groupBy(column, value, partition)`` partial counts; the key value is
    then md5-hashed (post-agg, so the shuffle groups on exact values) into
    a 16-byte persistable digest.  Output columns: ``_p, k, h, cnt``.
    """
    pairs = F.array(
        *[F.struct(key.alias("k"), value.alias("v")) for _, key, value in targets]
    )
    exploded = df.select(
        part.alias("_p"), F.explode(pairs).alias("pair")
    ).select("_p", F.col("pair.k").alias("k"), F.col("pair.v").alias("v"))
    exploded = exploded.filter(F.col("k").isNotNull())
    return (
        exploded.groupBy("k", "v", "_p")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "_p",
            "k",
            # to_json(struct(v)) serializes ANY key dtype deterministically
            # (NULL keys collapse to '{}' — null==null for uniqueness, same
            # as the raw-value grouping this replaces)
            F.md5(F.to_json(F.struct("v"))).alias("h"),
            "cnt",
        )
    )


def _charge(partials: DataFrame, prior: Optional[DataFrame] = None) -> tuple:
    """Each partition is charged its local member count of every
    (column, key) group whose GLOBAL total exceeds 1 — cross-partition
    duplicates are attributed to every partition that holds a member.

    With *prior* (persisted partials of finished partitions, same
    columns), one job returns both the charge over ``partials ∪ prior``
    and the charge the prior rows alone would have drawn: the prior rows
    are tagged, and one window over (column, key) sums the total and the
    prior total — one shuffle of the rows, each input read once, where a
    ``groupBy`` joined back to its rows reads them twice.  Output is
    driver-sized: ``({(partition, column): count}, {(partition, column):
    prior count})``.
    """
    rows = partials.withColumn("_prior", F.lit(False))
    if prior is not None:
        rows = rows.unionByName(prior.withColumn("_prior", F.lit(True)))
    prior_cnt = F.when(F.col("_prior"), F.col("cnt")).otherwise(F.lit(0))
    group = Window.partitionBy("k", "h")
    charged = (
        rows.select(
            "_p",
            "k",
            "cnt",
            "_prior",
            F.sum("cnt").over(group).alias("total"),
            F.sum(prior_cnt).over(group).alias("prior_total"),
        )
        .filter(F.col("total") > 1)
        .groupBy("_p", "k")
        .agg(
            F.sum("cnt").alias("dups"),
            F.sum(
                F.when(F.col("prior_total") > 1, prior_cnt).otherwise(F.lit(0))
            ).alias("prior_dups"),
        )
        .collect()
    )
    charge = {(r["_p"], r["k"]): int(r["dups"]) for r in charged}
    prior_charge = {
        (r["_p"], r["k"]): int(r["prior_dups"]) for r in charged if r["prior_dups"]
    }
    return charge, prior_charge


def _pending(part, finished: set):
    """Rows whose partition has no checkpointed verdict.  Null-safe:
    ``~isin`` evaluates to NULL (row silently dropped) for a NULL partition
    value, so the null partition is kept or skipped explicitly, by whether
    its verdict (a NULL ``partition`` cell) is checkpointed."""
    non_null = [v for v in finished if v is not None]
    named = ~part.isin(*non_null) if non_null else F.lit(True)
    return (part.isNotNull() & named) | (part.isNull() & F.lit(None not in finished))

"""Scale-path machinery: runner checkpoint/resume, stats, RI, synthesizer."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import patito_spark as pt
from patito_spark.plans.runner import ValidationRunner
from patito_spark.plans.stats import (
    chi_square_from_histograms,
    column_profile,
    ks_exact_by_group,
    ks_from_sketches,
    quantile_sketch,
)
from patito_spark.plans.uniqueness import (
    duplicate_member_count,
    referential_violation_count,
)
from patito_spark.testing import (
    WebPage,
    expected_violations,
    synth_domains,
    synth_webpages,
)

N = 20_000


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_webpages(spark, N, n_partitions=8)
    df.cache().count()
    return df


def test_synth_is_deterministic(spark):
    a = synth_webpages(spark, 500, n_partitions=2).orderBy("url").collect()
    b = synth_webpages(spark, 500, n_partitions=7).orderBy("url").collect()
    assert a == b  # parallelism-independent


def test_expected_violation_counts(spark, pages):
    exp = expected_violations(N)
    nulls = pages.filter(F.col("lang").isNull()).count()
    assert nulls == exp["null_lang"]
    bad_ts = pages.filter(
        F.col("warc_ts") < F.lit(dt.datetime(1996, 1, 1))
    ).count()
    assert bad_ts == exp["bad_warc_ts"]
    bad_url = pages.filter(~F.col("url").rlike("^https?://")).count()
    assert bad_url == exp["bad_url_pattern"]
    assert duplicate_member_count(pages, "url") == exp["duplicate_url_members"]


def test_webpage_model_catches_planted_violations(spark, pages):
    exp = expected_violations(N)
    with pytest.raises(pt.DataFrameValidationError) as e:
        WebPage.validate(pages.drop("crawl_date"))
    by_loc = {}
    for err in e.value.errors():
        by_loc.setdefault(err["loc"], []).append(err["msg"])
    assert f"{exp['null_lang']} missing values" in by_loc[("lang",)]
    assert (
        f"{exp['duplicate_url_members']} rows with duplicated values."
        in by_loc[("url",)]
    )
    # bad ts + bad url pattern both appear as out-of-bound rowvalue errors
    assert any("out of bound" in m for m in by_loc[("warc_ts",)])
    assert any("out of bound" in m for m in by_loc[("url",)])


def test_webpage_spec_json_roundtrip_finds_same_errors(spark, pages):
    """WebPage's datetime bounds survive spec_json: the rebuilt model
    reports exactly the original's error dicts."""
    from patito_spark.errors import flatten_errors
    from patito_spark.plans.checks import find_errors
    from patito_spark.spec import model_from_spec_json

    rebuilt = model_from_spec_json(WebPage.spec_json())
    df = pages.drop("crawl_date")

    def dicts(model):
        return sorted(map(repr, flatten_errors(find_errors(df, model))))

    want = dicts(WebPage)
    assert any(d.startswith("{'loc': ('warc_ts',)") for d in want)
    assert dicts(rebuilt) == want


def test_validation_never_mutates_text(spark, pages):
    # north-rule invariant: extracted text byte-identical per url
    before = pages.select(F.md5(F.col("text")).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s")
    ).collect()[0]["s"]
    try:
        WebPage.validate(pages.drop("crawl_date"))
    except pt.DataFrameValidationError:
        pass
    after = pages.select(F.md5(F.col("text")).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s")
    ).collect()[0]["s"]
    assert before == after


# -- runner: per-partition verdicts + checkpoint/resume ------------------------


def test_runner_per_partition_verdicts(spark, pages, tmp_path):
    runner = ValidationRunner(
        WebPage,
        ("crawl_date", None),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    runner.partition_expr = None
    result = runner.run(pages)
    assert len(result.verdicts) > 100  # dates spread over ~30 years
    assert not result.passed
    total_rows = sum(v["n_rows"] for v in result.verdicts)
    assert total_rows == N
    # violations keyed by partition and column
    cols = {v["column"] for v in result.violations}
    assert {"lang", "url", "warc_ts"} <= cols
    # the declared partition column is runner plumbing, never an error
    assert not any(v["column"] == "crawl_date" for v in result.violations)


def test_runner_enum_samples_attributed_per_partition(spark, tmp_path):
    """Enum offending values are fetched by the bounded follow-up job and
    attributed to the partition that contains them — a clean partition
    reports no enum error even when another partition violates."""

    class M(pt.Model):
        g: str
        v: str = pt.Field(allowed=["a", "b"])

    df = spark.createDataFrame(
        [("p1", "a"), ("p1", "ZZ"), ("p1", "QQ"), ("p2", "b")],
        "g string, v string",
    )
    result = ValidationRunner(M, "g", checkpoint_dir=str(tmp_path / "e")).run(df)
    enum_viol = [
        v
        for v in result.violations
        if v["column"] == "v" and "invalid values" in v["message"]
    ]
    assert len(enum_viol) == 1
    assert enum_viol[0]["partition"] == "p1"
    assert "'ZZ'" in enum_viol[0]["message"]
    assert "'QQ'" in enum_viol[0]["message"]


def test_runner_resume_skips_finished(spark, pages, tmp_path):
    ckpt = str(tmp_path / "resume")
    runner = ValidationRunner(WebPage, "crawl_date", checkpoint_dir=ckpt)
    first = runner.run(pages)
    n_first = len(first.verdicts)
    assert n_first > 0
    # second run: everything already checkpointed → zero work
    second = ValidationRunner(WebPage, "crawl_date", checkpoint_dir=ckpt).run(pages)
    assert len(second.verdicts) == 0
    assert len(second.skipped_partitions) == n_first
    # persisted tables readable
    verdicts = runner.verdicts(spark)
    assert verdicts.count() == n_first


def test_runner_partial_resume(spark, tmp_path):
    ckpt = str(tmp_path / "partial")

    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    df = spark.range(100).select(
        (F.col("id") % 4).alias("k"), F.col("id").cast("long").alias("v")
    )
    half = df.filter(F.col("k") < 2)
    r1 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(half)
    assert len(r1.verdicts) == 2
    r2 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert sorted(v["partition"] for v in r2.verdicts) == ["2", "3"]
    assert r2.skipped_partitions == ["0", "1"]


def test_runner_resume_null_partition(spark, tmp_path):
    from typing import Optional

    ckpt = str(tmp_path / "nullpart")

    class M(pt.Model):
        k: Optional[int]
        v: int = pt.Field(ge=0)

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (0, 3), (1, 4)], "k int, v int"
    )
    # first run sees only the named partitions
    r1 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(
        df.filter(F.col("k").isNotNull())
    )
    assert sorted(v["partition"] for v in r1.verdicts) == ["0", "1"]
    # resume: the NULL partition was never validated — it must not be
    # silently dropped by the null-unsafe ~isin predicate
    r2 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert [v["partition"] for v in r2.verdicts] == [None]
    assert r2.verdicts[0]["n_rows"] == 2
    # once its verdict is checkpointed, the NULL partition is skipped too
    r3 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert len(r3.verdicts) == 0


def test_runner_checkpoint_table_resume(spark):
    """Catalog-table checkpointing (the north rule's 'checkpoint table'):
    verdicts/violations land in catalog tables and resume reads them."""

    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    table = "patito_test_ckpt"
    for suffix in ("_verdicts", "_violations"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
    try:
        df = spark.range(40).select(
            (F.col("id") % 4).alias("k"), (F.col("id") - 2).alias("v")
        )
        half = df.filter(F.col("k") < 2)
        r1 = ValidationRunner(M, "k", checkpoint_table=table).run(half)
        assert len(r1.verdicts) == 2
        runner2 = ValidationRunner(M, "k", checkpoint_table=table)
        r2 = runner2.run(df)
        assert sorted(v["partition"] for v in r2.verdicts) == ["2", "3"]
        assert r2.skipped_partitions == ["0", "1"]
        assert runner2.verdicts(spark).count() == 4
        assert runner2.report(spark).filter(
            F.col("column") == "v"
        ).count() > 0  # v = -2, -1 violate ge=0
    finally:
        for suffix in ("_verdicts", "_violations"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")

    with pytest.raises(ValueError, match="not both"):
        ValidationRunner(M, "k", checkpoint_dir="/tmp/x", checkpoint_table="y")


def test_runner_records_file_lineage(spark, tmp_path):
    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    src = str(tmp_path / "src")
    spark.range(20).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("v")
    ).repartition(2).write.parquet(src)
    result = ValidationRunner(M, "k").run(spark.read.parquet(src))
    for v in result.verdicts:
        assert v["input_files"], "file-backed partitions must carry lineage"
        assert all(src.lstrip("/") in f for f in v["input_files"])
    # non-file sources carry empty lineage, not ''
    mem = ValidationRunner(M, "k").run(
        spark.createDataFrame([(0, 1), (1, 2)], "k int, v int")
    )
    assert all(v["input_files"] == [] for v in mem.verdicts)


def test_text_parity_verdicts(spark):
    from patito_spark.plans.parity import (
        text_parity_report,
        text_parity_violations,
    )

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, "w")], "k long, t string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "z"), (3, None), (5, "v")], "k long, t string"
    )
    rows = {
        r["verdict"]: r["n_rows"]
        for r in text_parity_report(a, b, "k", "t").collect()
    }
    assert rows == {
        "identical": 2,  # 1 matches; 3 matches (NULL == NULL by sentinel)
        "different": 1,
        "missing_in_reference": 1,
        "missing_in_current": 1,
    }
    bad = text_parity_violations(a, b, "k", "t").collect()
    assert [r["k"] for r in bad] == [2, 4, 5]


def test_runner_attributes_cross_partition_duplicates(spark, tmp_path):
    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    df = spark.createDataFrame(
        [(0, 1), (1, 1), (1, 2), (1, 2), (2, 5)], "p int, u int"
    )
    result = ValidationRunner(M, "p").run(df)
    dup = {
        v["partition"]: v["violation_count"]
        for v in result.violations
        if v["column"] == "u"
    }
    # partition 0 holds 1 member of the cross-partition group {u=1};
    # partition 1 holds the other member plus both members of {u=2}
    assert dup == {"0": 1, "1": 3}


def test_runner_exact_unique_resume_matches_uninterrupted(spark, tmp_path):
    """Kill-and-resume with unique_resume='exact': the cumulative violation
    table must equal one uninterrupted run's — WITHOUT rescanning finished
    partitions (the delta for the finished side comes from persisted
    key-hash partials alone)."""

    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    # u=1 spans partitions 0 and 2 (cross-boundary group split across the
    # interrupted and resumed halves); u=2 duplicates inside partition 1
    rows = [(0, 1), (0, 7), (1, 2), (1, 2), (2, 1), (2, 9)]
    df = spark.createDataFrame(rows, "p int, u int")

    def dup_counts(violations):
        out: dict = {}
        for v in violations:
            if v["column"] == "u":
                out[v["partition"]] = out.get(v["partition"], 0) + v["violation_count"]
        return out

    # ground truth: one uninterrupted run
    full = ValidationRunner(
        M, "p", checkpoint_dir=str(tmp_path / "full"), unique_resume="exact"
    ).run(df)
    truth = dup_counts(full.violations)
    assert truth == {"0": 1, "1": 2, "2": 1}

    # interrupted: run 1 sees partitions {0, 1} only, then "dies"
    ckpt = str(tmp_path / "resume")
    r1 = ValidationRunner(
        M, "p", checkpoint_dir=ckpt, unique_resume="exact"
    ).run(df.filter(F.col("p") < 2))
    assert dup_counts(r1.violations) == {"1": 2}  # u=1 not yet duplicated

    # resume with ONLY the pending half of the data on disk-equivalent:
    # partition 2's scan plus partition 0's persisted partials must
    # reconstruct the cross-boundary group
    runner2 = ValidationRunner(
        M, "p", checkpoint_dir=ckpt, unique_resume="exact"
    )
    r2 = runner2.run(df)
    assert r2.skipped_partitions == ["0", "1"]
    assert [v["partition"] for v in r2.verdicts] == ["2"]
    # run 2 emitted partition 2's charge AND a retroactive delta for the
    # finished partition 0
    assert dup_counts(r2.violations) == {"0": 1, "2": 1}
    # cumulative checkpoint == uninterrupted run
    persisted = runner2.report(spark).filter(F.col("column") == "u").collect()
    assert dup_counts([r.asDict() for r in persisted]) == truth
    # a third run changes nothing (no double-charging on repeated resume)
    r3 = ValidationRunner(
        M, "p", checkpoint_dir=ckpt, unique_resume="exact"
    ).run(df)
    assert dup_counts(r3.violations) == {}
    persisted = ValidationRunner(
        M, "p", checkpoint_dir=ckpt, unique_resume="exact"
    ).report(spark).filter(F.col("column") == "u").collect()
    assert dup_counts([r.asDict() for r in persisted]) == truth


def test_runner_exact_resume_ignores_orphan_partials(spark, tmp_path):
    """Crash between the partials write and the verdict write: the orphan
    partials (run_id with no matching verdict) must not double-count when
    the partition re-runs."""

    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    df = spark.createDataFrame([(0, 1), (1, 1)], "p int, u int")
    ckpt = str(tmp_path / "orphan")
    runner = ValidationRunner(M, "p", checkpoint_dir=ckpt, unique_resume="exact")
    # simulate the torn write: persist partials for partition 0 under a
    # run_id that never got a verdict
    from patito_spark.plans.checks import _Ctx, _compile_level
    from patito_spark.plans.runner import _unique_partials

    half = df.filter(F.col("p") == 0)
    ctx = _Ctx()
    _compile_level(
        ctx=ctx, errors=[], specs=M.__column_specs__,
        model_config=M.model_config, df_columns=["p", "u"],
        df_types={"p": T.IntegerType(), "u": T.IntegerType()},
        columns=None, allow_missing_columns=False,
        allow_superfluous_columns=False, path="", loc="", guard=None,
    )
    runner._persist_unique_partials(
        _unique_partials(half, F.col("p").cast("string"), ctx.unique_targets),
        "dead-run",
    )
    # real run over everything: partition 0 re-runs (no verdict exists);
    # its fresh partials + partition 1's must charge u=1 exactly once per
    # member — the orphan 'dead-run' rows are ignored
    result = runner.run(df)
    dup = {
        v["partition"]: v["violation_count"]
        for v in result.violations
        if v["column"] == "u"
    }
    assert dup == {"0": 1, "1": 1}


class _U(pt.Model):
    p: int
    u: int = pt.Field(unique=True)


def _dup_counts(violations) -> dict:
    out: dict = {}
    for v in violations:
        if v["column"] == "u":
            out[v["partition"]] = out.get(v["partition"], 0) + v["violation_count"]
    return out


def _persisted_dup_counts(spark, runner) -> dict:
    rows = runner.report(spark).filter(F.col("column") == "u").collect()
    return _dup_counts([r.asDict() for r in rows])


def test_runner_exact_resume_refuses_retried_run_id(spark, tmp_path):
    """A torn write under an explicit run_id (partials persisted, verdict
    never written) retried under the SAME run_id would leave two trusted
    copies of the partition's partials and corrupt every later charge: the
    retry is refused, and a retry under a new run_id stays exact."""
    from patito_spark.plans.checks import _Ctx, _compile_level
    from patito_spark.plans.runner import _unique_partials

    df = spark.createDataFrame([(0, 1), (1, 1)], "p int, u int")
    ckpt = str(tmp_path / "retry")
    runner = ValidationRunner(_U, "p", checkpoint_dir=ckpt, unique_resume="exact")
    ctx = _Ctx()
    _compile_level(
        ctx=ctx, errors=[], specs=_U.__column_specs__,
        model_config=_U.model_config, df_columns=["p", "u"],
        df_types={"p": T.IntegerType(), "u": T.IntegerType()},
        columns=None, allow_missing_columns=False,
        allow_superfluous_columns=False, path="", loc="", guard=None,
    )
    first = df.filter(F.col("p") == 0)
    runner._persist_unique_partials(
        _unique_partials(first, F.col("p").cast("string"), ctx.unique_targets),
        "r1",
    )
    with pytest.raises(ValueError, match="run_id 'r1'"):
        runner.run(first, run_id="r1")
    assert _dup_counts(runner.run(first, run_id="r2").violations) == {}
    # an explicit run_id whose partials all have verdicts may resume
    assert _dup_counts(runner.run(df, run_id="r2").violations) == {"0": 1, "1": 1}
    assert _persisted_dup_counts(spark, runner) == {"0": 1, "1": 1}


def test_runner_exact_resume_group_duplicated_inside_finished(spark, tmp_path):
    """A duplicate group already charged inside the finished partitions
    gains a member on resume: the finished side's retroactive delta is 0
    (its members were charged when it ran), the pending side is charged
    its own member, and the cumulative table equals an uninterrupted run."""
    rows = [(0, 5), (0, 5), (0, 7), (1, 7), (1, 8), (2, 5), (2, 7), (2, 9)]
    df = spark.createDataFrame(rows, "p int, u int")
    truth = _dup_counts(
        ValidationRunner(
            _U, "p", checkpoint_dir=str(tmp_path / "full"), unique_resume="exact"
        ).run(df).violations
    )
    assert truth == {"0": 3, "1": 1, "2": 2}

    runner = ValidationRunner(
        _U, "p", checkpoint_dir=str(tmp_path / "resume"), unique_resume="exact"
    )
    r1 = runner.run(df.filter(F.col("p") < 2))
    assert _dup_counts(r1.violations) == {"0": 3, "1": 1}
    r2 = runner.run(df)
    # no retroactive rows: u=5 and u=7 were already duplicated
    assert _dup_counts(r2.violations) == {"2": 2}
    assert _persisted_dup_counts(spark, runner) == truth


def test_runner_exact_resume_null_partition(spark, tmp_path):
    """The NULL partition under exact resume: charged while pending, its
    partials trusted once finished (null-safe trust key), and charged a
    retroactive delta when a later partition joins its group."""
    from typing import Optional

    class M(pt.Model):
        k: Optional[int]
        u: int = pt.Field(unique=True)

    run1 = [(0, 1), (1, 2)]
    run2 = run1 + [(None, 1), (None, 3)]
    run3 = run2 + [(2, 3)]
    schema = "k int, u int"
    truth = _dup_counts(
        ValidationRunner(
            M, "k", checkpoint_dir=str(tmp_path / "full"), unique_resume="exact"
        ).run(spark.createDataFrame(run3, schema)).violations
    )
    assert truth == {"0": 1, None: 2, "2": 1}

    runner = ValidationRunner(
        M, "k", checkpoint_dir=str(tmp_path / "resume"), unique_resume="exact"
    )
    assert _dup_counts(runner.run(spark.createDataFrame(run1, schema)).violations) == {}
    # the pending NULL partition is charged; finished partition 0 gets its delta
    r2 = runner.run(spark.createDataFrame(run2, schema))
    assert [v["partition"] for v in r2.verdicts] == [None]
    assert _dup_counts(r2.violations) == {None: 1, "0": 1}
    # the finished NULL partition's trusted partials draw its delta
    r3 = runner.run(spark.createDataFrame(run3, schema))
    assert r3.skipped_partitions == [None, "0", "1"]
    assert _dup_counts(r3.violations) == {"2": 1, None: 1}
    assert _persisted_dup_counts(spark, runner) == truth


def test_runner_persist_roundtrips_null_partition_and_empty_lineage(spark, tmp_path):
    """Checkpoint rows go to the JVM as Arrow tables: a None partition and
    an empty input_files list survive, and the persisted schemas are the
    checkpoint schemas."""
    from patito_spark.plans.runner import VERDICT_SCHEMA, VIOLATION_SCHEMA

    ckpt = str(tmp_path / "persist")
    verdict = {
        "partition": None,
        "passed": False,
        "n_rows": 3,
        "n_violations": 2,
        "run_id": "r",
        "finished_at": 1.5,
        "elapsed_sec": 0.25,
        "input_files": [],
    }
    violation = {
        "partition": None,
        "column": "u",
        "error_type": "value_error.rowvalue",
        "message": "2 rows with duplicated values.",
        "violation_count": 2,
        "run_id": "r",
    }
    ValidationRunner(_U, "p", checkpoint_dir=ckpt)._persist(
        spark, [verdict], [violation]
    )
    verdicts = spark.read.parquet(f"{ckpt}/verdicts")
    violations = spark.read.parquet(f"{ckpt}/violations")
    assert verdicts.schema == VERDICT_SCHEMA
    assert violations.schema == VIOLATION_SCHEMA
    assert [r.asDict() for r in verdicts.collect()] == [verdict]
    assert [r.asDict() for r in violations.collect()] == [violation]


# -- referential integrity -------------------------------------------------------


def test_referential_orphans(spark, pages):
    domains = synth_domains(spark)
    orphans = referential_violation_count(
        pages,
        F.parse_url(F.col("url"), F.lit("HOST")),
        domains,
        "domain",
        broadcast_dim=True,
    )
    # planted: site domains with id % 100 == 13 are missing from the dim,
    # plus the not-a-url rows parse to null hosts
    assert orphans > 0
    manual = pages.withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    ).join(
        domains.withColumnRenamed("domain", "host"), "host", "left_anti"
    ).count()
    assert orphans == manual


def test_referential_broadcast_sizing(spark):
    """Default broadcast decision comes from the plan-size estimate: a huge
    dim must NOT be broadcast (executor OOM at scale), a small one must be.
    Plan-only assertions — the big join never executes."""
    from patito_spark.plans.uniqueness import referential_violations

    fact = spark.range(100).select(F.col("id").alias("k"))

    def plan(dim, **kw):
        out = referential_violations(fact, F.col("k"), dim, "id", **kw)
        return out._jdf.queryExecution().executedPlan().toString()

    big = spark.range(200_000_000)  # ~1.6 GB estimate, over the threshold
    small = spark.range(1_000)
    assert "BroadcastExchange" not in plan(big)
    assert "BroadcastExchange" in plan(small)
    # explicit opt-in beats the estimate (broadcast_dim=False merely omits
    # the hint — Catalyst's own autoBroadcastJoinThreshold may still pick
    # broadcast for a genuinely tiny side, which is fine)
    assert "BroadcastExchange" in plan(big, broadcast_dim=True)


# -- stats / drift ------------------------------------------------------------------


def test_column_profile_global_and_partitioned(spark, pages):
    prof = column_profile(
        pages,
        columns=["lang", "warc_ts"],
        histogram={},
    ).collect()[0]
    assert prof["rows"] == N
    assert prof["lang__nulls"] == expected_violations(N)["null_lang"]
    per_part = column_profile(
        pages, columns=["lang"], partition_cols=["crawl_date"]
    )
    assert per_part.count() > 100
    assert (
        per_part.agg(F.sum("rows")).collect()[0][0] == N
    )


def test_histogram_profile(spark):
    df = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    prof = column_profile(df, columns=["x"], histogram={"x": (0, 1000, 10)})
    hist = prof.collect()[0]["x__hist"]
    # buckets: [under, b1..b10, over]; uniform → 100 each
    assert len(hist) == 12
    assert hist[1:11] == [100] * 10


def test_chi_square_identical_distributions():
    a = [100, 200, 300]
    res = chi_square_from_histograms(a, a)
    assert res["statistic"] == pytest.approx(0.0)


def test_chi_square_detects_shift():
    res = chi_square_from_histograms([300, 200, 100], [100, 200, 300])
    assert res["statistic"] > 100


def test_ks_sketch_same_distribution(spark):
    df = spark.range(10_000).select((F.col("id") % 997).cast("double").alias("x"))
    q = quantile_sketch(df, "x")
    assert ks_from_sketches(q, q) < 0.02


def test_ks_sketch_detects_shift(spark):
    a = quantile_sketch(
        spark.range(5000).select((F.col("id") % 100).cast("double").alias("x")), "x"
    )
    b = quantile_sketch(
        spark.range(5000).select(
            ((F.col("id") % 100) + 50).cast("double").alias("x")
        ),
        "x",
    )
    assert ks_from_sketches(a, b) > 0.3


def test_ks_exact_by_group(spark):
    df = spark.range(2000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 100).cast("double").alias("x")
    )
    ref = [float(i) for i in range(100)]  # matches both groups' distribution
    out = {r["g"]: r["ks"] for r in ks_exact_by_group(df, "g", "x", ref).collect()}
    assert all(v < 0.06 for v in out.values())


def test_ks_grid_by_group_matches_pandas_path(spark):
    """The native grid KS (one groupBy.agg of conditional counts) computes
    the exact same statistic as the grouped-applyInPandas path, with zero
    Python nodes in its plan."""
    from patito_spark.plans.stats import (
        grid_cdf_reference,
        ks_exact_vs_cdf,
        ks_grid_by_group,
    )

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("g"),
        # skew group 2 so the statistics genuinely differ per group
        F.when(F.col("id") % 3 == 2, (F.col("id") % 40) + 60.0)
        .otherwise(F.col("id") % 100)
        .cast("double")
        .alias("x"),
    )
    pts, cdf = grid_cdf_reference(df, "x", points=31)
    native = ks_grid_by_group(df, "g", "x", pts, cdf)
    arrow = ks_exact_vs_cdf(df, "g", "x", pts, cdf)
    n_rows = {r["g"]: (round(r["ks"], 12), r["n"]) for r in native.collect()}
    a_rows = {r["g"]: (round(r["ks"], 12), r["n"]) for r in arrow.collect()}
    assert n_rows == a_rows
    assert len(n_rows) == 3
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_ks_grid_by_group_null_values_and_empty_ref(spark):
    from patito_spark.plans.stats import ks_grid_by_group

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None)], "g string, x double"
    )
    out = {
        r["g"]: (r["ks"], r["n"])
        for r in ks_grid_by_group(df, "g", "x", [0.5], [0.5]).collect()
    }
    assert out["a"] == (0.5, 1)  # count(x<=0.5)=0 → |0 - 0.5|
    assert out["b"][1] == 0 and math.isnan(out["b"][0])
    empty_ref = ks_grid_by_group(df, "g", "x", [], []).collect()
    assert all(math.isnan(r["ks"]) for r in empty_ref)


def test_discrete_percentiles_by_group_exact(spark):
    """Counting-based quantiles match the lower-quantile definition and a
    driver-side reference on planted distributions."""
    from patito_spark.plans.stats import discrete_percentiles_by_group

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]] + [
        ("b", v) for v in [5, 5, 5, 100]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["g"], r["p"]): (r["value"], r["n"])
        for r in discrete_percentiles_by_group(
            df, "g", "v", [0.5, 0.9, 1.0]
        ).collect()
    }
    # group a: n=10 → p50 = value at rank ceil(5)=5 → 5; p90 rank 9 → 9
    assert out[("a", 0.5)] == (5, 10)
    assert out[("a", 0.9)] == (9, 10)
    assert out[("a", 1.0)] == (10, 10)
    # group b: n=4 → p50 rank 2 → 5; p90 rank ceil(3.6)=4 → 100
    assert out[("b", 0.5)] == (5, 4)
    assert out[("b", 0.9)] == (100, 4)
    # plan: no Python, no unbounded percentile buffer aggregate
    plan = (
        discrete_percentiles_by_group(df, "g", "v", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "percentile" not in plan.lower()

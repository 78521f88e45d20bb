"""Session-level invariants: generated code of served plans stays
compiled, and the site shuffle-width override holds in every size
regime of ``apply_adaptive_policy``."""

from __future__ import annotations

import os

import pytest

from procoggraph_spark.queries import registry
from procoggraph_spark.session import apply_adaptive_policy, codegen_compiles
from tests.conftest import SF_SMOKE

# the resident dashboard mix (perfbench's interactive workload):
# Cypher-surface shapes plus bench.py headline rows
DASHBOARD_MIX = (
    "q1_global_summary_counts", "q4_report_card", "q6_best_mode",
    "q14_topk_by_count", "q16_json_payload",
    "a1_pricing_summary", "j7_star_join_rollup", "w5_topk_per_group",
    "p6_ownership_classify", "dedup_exact", "dedup_minhash_lsh",
    "text_quality_score", "sim_bruteforce_topk",
)


def _sweep(spark, qs, names) -> int:
    before, _ = codegen_compiles(spark)
    for name in names:
        df = qs[name](spark, SF_SMOKE)
        for frame in df if isinstance(df, tuple) else (df,):
            frame.write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark)[0] - before


@pytest.fixture
def policy(spark):
    """Restore the shared session's size-policy confs after the test."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
        "spark.sql.files.minPartitionNum")}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_warm_dashboard_sweep_compiles_nothing(spark, policy):
    """A second pass over the served mix must find every generated
    class in the codegen cache. The mix generates ~175 classes, more
    than Spark's default 100-entry cache, which then recompiles every
    class on every pass. Served under the size policy, as the dashboard
    is: AQE is off at this size. (With AQE on, the order in which query
    stages finish numbers the codegen stages, so a plan can compile a
    few variants of a class before it is warm.)"""
    apply_adaptive_policy(spark, SF_SMOKE)
    qs, _ = registry()
    first = _sweep(spark, qs, DASHBOARD_MIX)
    second = _sweep(spark, qs, DASHBOARD_MIX)
    assert second == 0, f"warm sweep recompiled {second} classes (cold sweep: {first})"


@pytest.fixture
def policy_dir(tmp_path, monkeypatch, policy):
    """Sparse input dirs of a given size, with the site override set
    to 7."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")

    def make(n_bytes):
        d = tmp_path / f"in{n_bytes}"
        d.mkdir()
        with open(d / "data.parquet", "wb") as f:
            f.truncate(n_bytes)  # the policy only sums sizes
        return str(d)

    return make


def test_shuffle_override_interactive_regime(spark, policy_dir):
    assert apply_adaptive_policy(spark, policy_dir(10 << 20)) is False
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


def test_shuffle_override_crossover_regime(spark, policy_dir):
    assert apply_adaptive_policy(spark, policy_dir(200 << 20)) is True
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    # the scan-split floor still follows the cores, not the override
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    base = int(cpus) if cpus.isdigit() else 32
    assert spark.conf.get("spark.sql.files.minPartitionNum") == str(2 * base)


def test_shuffle_override_cluster_regime(spark, policy_dir):
    assert apply_adaptive_policy(spark, policy_dir(1 << 30)) is True
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.files.minPartitionNum", None) is None

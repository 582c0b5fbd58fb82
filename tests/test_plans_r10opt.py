"""Plan/value gates for the round-10 OPTIMIZATION rewrites, pinning
the shapes the optimization claims so they cannot silently regress:

* recursive_dup_reachability is a single aggregate (no recursion
  machinery, no window, no join, one exchange);
* markov's 12 iterations live in ONE fold (final plan scan-free is
  already gated in test_plan_rules.py; here: no per-iteration join
  chain — the bounded fold is one node of the walk through the
  recorded checkpoints);
* dbscan's components run as the bounded in-row fold (no join rounds
  after the dense-cell build beyond the label join-back);
* lof's all-pairs join is salted (join keys include the salt, so the
  key space is 16 * the salt, not 16);
* the binary-digest LSH pipeline produces the identical verified
  pairs as the hex form (exact set equality at the test sf).
"""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import (
    PlanWalk, recorded_checkpoints,
)
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_reachability_is_one_aggregate(spark, sf_dir):
    df = REG["recursive_dup_reachability"].fn(spark, sf_dir)
    plan = _final_plan(df)
    # no window either: the query's max_windows: 0 row in PLAN_RULES
    for node in ("UnionLoop", "Join", "CartesianProduct"):
        assert node not in plan, (node, plan[:1500])
    assert plan.count("Exchange") <= 1, plan[:1500]


def test_markov_single_fold(spark, sf_dir):
    # The per-scenario fold is materialized behind the result
    # checkpoint, so the query is built under the checkpoint recorder
    # and its walk (which enters every recorded checkpoint) must carry
    # exactly ONE node with the bounded aggregate() fold; the FINAL
    # plan carries no 12-iteration join chain (its zero-scan budget
    # lives in tests/test_plan_rules.py).
    with recorded_checkpoints() as plans:
        df = REG["markov_removal_effect_attribution"].fn(spark, sf_dir)
    plan = _final_plan(df)
    # the duplicated fin/eff branches plan a handful of bounded joins;
    # a regression back to per-iteration joins would add 12+ more
    assert plan.count("Join") <= 8, plan[:2000]
    walk = PlanWalk(df._jdf.queryExecution().sparkPlan(), plans)
    # exactly ONE bounded fold (ADVICE r10: strict count, no vacuous
    # or-fallback — a reintroduced per-iteration join chain alongside
    # the fold must fail here)
    folds = [n for n, j in zip(walk.names, walk.jnodes)
             if "aggregate(" in j.toString().split("\n")[0]]
    assert len(folds) == 1, (folds, walk.names)


def test_dbscan_fold_replaces_star_rounds(spark, sf_dir):
    df = REG["dbscan_grid_embedding_clusters"].fn(spark, sf_dir)
    plan = _final_plan(df)
    # one label join-back onto the dense-cell table; the former star
    # loop planned several join/aggregate rounds per run
    assert plan.count("Join") <= 2, plan[:2000]
    # no window: the query's max_windows: 0 row in PLAN_RULES


def test_lof_salt_derivation_is_scale_adaptive(spark, sf_dir):
    # The salt follows the embeddings' bytes (one per advisory
    # partition, the stream state-partition rule), at least 1 and at
    # most defaultParallelism // 16: unsalted for every test scale
    # factor on any host, engaged at cluster parallelism on a corpus of
    # many partitions.
    from types import SimpleNamespace

    from de_project_airflow_etl_spark.queries import mining
    from de_project_airflow_etl_spark.streaming.ingest import source_bytes

    def fake(parallelism):
        return SimpleNamespace(conf=spark.conf, sparkContext=SimpleNamespace(
            defaultParallelism=parallelism, _jvm=spark.sparkContext._jvm))

    advisory = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    test_bytes = source_bytes(spark, f"{sf_dir}/embeddings.parquet")
    for cores in (4, 8, 32, 1024):
        assert mining._lof_salt(fake(cores), test_bytes) == 1
    assert mining._lof_salt(fake(1024), 10 * advisory) == 10
    assert mining._lof_salt(fake(1024), 10**6 * advisory) == 64
    assert mining._lof_salt(fake(32), 10**6 * advisory) == 2
    assert mining._lof_salt(fake(8), 10**6 * advisory) == 1


def test_lof_salted_equals_unsalted(spark, sf_dir):
    # ADVICE r10 (medium): the salted-join branch must be machine-
    # checked equal to the unsalted default, not argued in a comment —
    # a bug there would change LOF results only at cluster scale.
    # Salt 4 against salt 1, row-for-row.
    import inspect

    from de_project_airflow_etl_spark.queries import mining
    src = inspect.getsource(mining._lof_pairs)
    assert "xxhash64" in src and "lof_salt" in src
    assert "rand()" not in src

    base = sorted(map(tuple,
                      mining.lof_bucket_outliers(spark, sf_dir).collect()))
    assert base
    assert base == sorted(map(tuple, mining._lof_scores(
        mining._lof_pairs(spark, sf_dir, 1)).collect()))
    salted_pairs = mining._lof_pairs(spark, sf_dir, 4)
    # the salted plan must actually join on the salt keys
    plan = salted_pairs._jdf.queryExecution().executedPlan().toString()
    assert "psalt" in plan and "osalt" in plan, plan[:2000]
    salted = sorted(map(tuple, mining._lof_scores(salted_pairs).collect()))
    assert salted == base


def test_lsh_binary_equals_hex_pairs(spark, sf_dir):
    """The binary-digest pipeline must emit the identical verified
    pair set (and jaccards) as the hex pipeline — the hex<->binary
    bijection argument, machine-checked. The binary side is the
    checkpointed digest relation _lsh_verified builds."""
    from de_project_airflow_etl_spark.operators import dedup as D
    hex_dg = (D._shingled(spark, sf_dir).select("doc_id", "hs")
              .localCheckpoint(eager=True))
    hex_rows = sorted(map(tuple, D._lsh_pairs_plan(hex_dg).collect()))
    bin_rows = sorted(map(tuple, D._lsh_pairs_plan(
        D._lsh_digests(spark, sf_dir), binary=True).collect()))
    assert hex_rows == bin_rows
    assert hex_rows  # non-empty at every test sf

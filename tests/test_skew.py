"""Skew/co-location levers: the narrow-input spread, salted join
correctness, bucketed self-join runs without an exchange."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_spread_if_narrow_spreads_only_narrow_inputs(spark):
    from nametag3_spark.operators.skew import spread_if_narrow

    slots = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(f"c{i % 7}", i) for i in range(200)], "conv_id string, turn_idx int"
    ).coalesce(1)
    spread = spread_if_narrow(narrow, "conv_id", "turn_idx", factor=2)
    assert spread.rdd.getNumPartitions() == 2 * slots
    assert re.search(
        rf"hashpartitioning\(conv_id#\d+, turn_idx#\d+, {2 * slots}\)", _plan(spread)
    )
    assert sorted(spread.collect()) == sorted(narrow.collect())

    wide = narrow.repartition(slots + 1)
    assert spread_if_narrow(wide, "conv_id", "turn_idx", factor=2) is wide


def test_salted_join_matches_plain_join(spark):
    from nametag3_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(1000)],
        "id long, k string",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], "k string, v string"
    )
    plain = fact.join(dim, "k").select("id", "v")
    salted = salted_join(fact, dim, "k", n_salts=8).select("id", "v")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    from nametag3_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(i, "hot") for i in range(500)], "id long, k string")
    dim = spark.createDataFrame([("hot", "H")], "k string, v string")
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*fact.columns), F.lit(8)).cast("int")
    )
    n_salts_used = salted_fact.select("_salt").distinct().count()
    assert n_salts_used >= 6  # the one hot key spreads over ~all salts
    assert salted_join(fact, dim, "k", n_salts=8).count() == 500


def test_bucketed_self_join_has_no_exchange(spark, tmp_path):
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.operators.infer import extract_mentions_flat
    from nametag3_spark.operators.skew import (
        co_mention_join_bucketed,
        write_bucketed,
    )

    mentions = extract_mentions_flat(
        synth_transcripts(spark, n_convs=10, avg_turns=5)
    )
    spark.sql("DROP TABLE IF EXISTS mentions_bucketed")
    write_bucketed(mentions, "mentions_bucketed", ["conv_id", "turn_idx"], n_buckets=4)

    # force a sort-merge join so an exchange would be visible if needed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = co_mention_join_bucketed(spark, "mentions_bucketed")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # bucketing co-locates both sides: no shuffle exchange in the plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS mentions_bucketed")


def test_salted_join_rejects_outer_flavors(spark):
    import pytest

    from nametag3_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, "a")], "id int, k string")
    dim = spark.createDataFrame([("a", 1)], "k string, v int")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            salted_join(fact, dim, "k", how=how)


def test_salted_join_tolerates_map_columns(spark):
    from pyspark.sql import functions as F

    from nametag3_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id int, k string"
    ).withColumn("meta", F.create_map(F.lit("x"), F.col("id")))
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v int")
    out = salted_join(fact, dim, "k", n_salts=4).select("id", "v")
    assert sorted(map(tuple, out.collect())) == [(1, 10), (2, 10), (3, 20)]


def test_salted_join_nested_map_and_all_map_fallback(spark):
    """Maps nested in arrays/structs must be excluded from the salt hash
    (xxhash64 rejects them anywhere in the type tree), and a fact whose
    only hashable column IS the join key must fall back to a positional
    salt — hashing the key alone would send the hot key to one reducer."""
    from nametag3_spark.operators.skew import salted_join

    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v int")

    nested = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id int, k string"
    ).withColumn(
        "metas", F.array(F.create_map(F.lit("x"), F.col("id")))
    ).withColumn(
        "wrap", F.struct(F.create_map(F.lit("y"), F.col("id")).alias("m"))
    )
    out = salted_join(nested, dim, "k", n_salts=4).select("id", "v")
    assert sorted(map(tuple, out.collect())) == [(1, 10), (2, 20), (3, 10)]

    # key + map only: positional-salt fallback, join still exact
    key_only = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "k string"
    ).withColumn("meta", F.create_map(F.lit("x"), F.lit(1)))
    out2 = salted_join(key_only, dim, "k", n_salts=4).select("k", "v")
    assert sorted(map(tuple, out2.collect())) == [("a", 10), ("a", 10), ("b", 20)]


def test_dedup_unpersist_intermediates(spark):
    """The pair builders register their persisted intermediates; the
    cleanup hook must release them all (ADVICE: one minhash_recall audit
    otherwise leaks 3+ cached datasets for the session)."""
    from nametag3_spark.operators.dedup import (
        minhash_recall,
        unpersist_intermediates,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta") for i in range(30)],
        "doc_id long, text string",
    )
    unpersist_intermediates()  # drop anything registered by earlier tests
    minhash_recall(docs).collect()
    released = unpersist_intermediates()
    assert released >= 3  # hashed + bands (LSH) + shingled (exact twin)
    # idempotent: nothing left behind
    assert unpersist_intermediates() == 0


def test_entry_queries_release_intermediates(spark):
    """Entry-layer audit/pair queries must not strand builder caches in a
    long driver session (round-3 VERDICT #6): checkpoint_and_release
    materializes the bounded result eagerly, drains the _PERSISTED
    registry, and the returned DataFrame still serves the consuming
    action from its checkpoint."""
    import __spark_entry__ as entry_mod
    from nametag3_spark.operators import dedup

    dedup.unpersist_intermediates()  # clean slate from earlier tests
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = entry_mod.queries()["minhash_recall"](spark, "/root/testdata/sf0.001")
    # builders ran eagerly and their caches are already gone
    assert dedup._PERSISTED == []
    rows = df.collect()  # the driver's consuming action still works
    assert len(rows) == 1 and rows[0]["n_exact"] >= 0
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # at most the bounded checkpointed result remains (ContextCleaner
    # reaps it once the DataFrame is dropped)
    assert after <= before + 1


def test_graph_khop_entry_query_releases_adjacency(spark):
    """q_graph_khop persists the symmetrized adjacency for the BFS
    rounds; the entry wrapper must checkpoint the bounded result and
    drain the graph persist registry before returning (same contract
    as the dedup audit queries)."""
    import __spark_entry__ as entry_mod
    from nametag3_spark.operators import graph

    graph.unpersist_intermediates()
    df = entry_mod.queries()["graph_khop"](spark, "/root/testdata/sf0.001")
    assert graph._PERSISTED == []
    rows = df.collect()
    assert len(rows) > 0 and {"source", "node", "hops"} <= set(rows[0].asDict())

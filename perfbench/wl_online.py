"""``online``: one closed-loop client over a read-only triple store,
alternating a fixed SPARQL mix (``sparql.execute(...).collect()``) with
NER request batches (``serving.process_requests(...).collect()``).

The store holds ``emit_triples`` over the build generator's planted
mentions (the mentions the build workload's pipeline reproduces with
span P/R = 1.0), written with ``write_triple_store``. Driver-side parse,
compile and planning plus shuffle joins dominate; the store is read,
never written, during the loop. Ops are timed warm: untimed cycles of
the whole mix run first.
"""

from __future__ import annotations

import statistics

import pandas as pd

from perfbench import common, gen
from perfbench.harness import Ctx, layer_rollup, not_called, overhead_ms

N_CONVS = 40
AVG_TURNS = 10
N_BUCKETS = 4
SETUP_REPS = 3
NER_BATCH = 48
NER_BATCHES = 6  # distinct request batches, cycled
WARMUP_CYCLES = 2
MEASURED_CYCLES = 5
QUERIES_PER_BATCH = 6

# (name, SPARQL, DuckDB SQL over table t(subj, pred, obj, conv_id, turn_idx))
QUERIES = [
    ("type_aggregate",
     "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s type ?t } GROUP BY ?t",
     "SELECT obj, COUNT(*) FROM t WHERE pred = 'type' GROUP BY obj"),
    ("star_join",
     "SELECT DISTINCT ?s ?a WHERE { ?s type PER . ?s mentioned_by_user ?a }",
     "SELECT DISTINCT x.subj, y.obj FROM t x JOIN t y ON x.subj = y.subj "
     "WHERE x.pred = 'type' AND x.obj = 'PER' AND y.pred = 'mentioned_by_user'"),
    ("subquery_having",
     "SELECT DISTINCT ?s ?t ?n WHERE { ?s type ?t . { SELECT ?s (COUNT(?o) AS ?n) "
     "WHERE { ?s co_mentioned_with ?o } GROUP BY ?s HAVING (?n >= 20) } }",
     "SELECT DISTINCT x.subj, x.obj, q.n FROM t x JOIN (SELECT subj, COUNT(*) AS n FROM t "
     "WHERE pred = 'co_mentioned_with' GROUP BY subj HAVING COUNT(*) >= 20) q "
     "ON x.subj = q.subj WHERE x.pred = 'type'"),
    ("ask",
     "ASK { ?s type MISC . ?s co_mentioned_with ?o }",
     "SELECT EXISTS (SELECT 1 FROM t x JOIN t y ON x.subj = y.subj WHERE x.pred = 'type' "
     "AND x.obj = 'MISC' AND y.pred = 'co_mentioned_with')"),
    ("construct",
     "CONSTRUCT { ?a works_with ?b } WHERE { ?a type PER . ?a co_mentioned_with ?b . ?b type ORG }",
     "SELECT DISTINCT x.subj, 'works_with', y.obj FROM t x JOIN t y ON x.subj = y.subj "
     "JOIN t z ON y.obj = z.subj WHERE x.pred = 'type' AND x.obj = 'PER' "
     "AND y.pred = 'co_mentioned_with' AND z.pred = 'type' AND z.obj = 'ORG'"),
    # multi-hop over the per-mention ``type`` triples: every type row of
    # ?a and ?b multiplies the bag, so the count carries that fan-out
    ("multi_hop",
     "SELECT ?a ?b (COUNT(?c) AS ?n) WHERE { ?a type PER . ?a co_mentioned_with ?b . "
     "?b type ORG . ?b co_mentioned_with ?c } GROUP BY ?a ?b",
     "SELECT x.subj, y.obj, COUNT(*) FROM t x JOIN t y ON x.subj = y.subj "
     "JOIN t z ON y.obj = z.subj JOIN t w ON y.obj = w.subj WHERE x.pred = 'type' "
     "AND x.obj = 'PER' AND y.pred = 'co_mentioned_with' AND z.pred = 'type' "
     "AND z.obj = 'ORG' AND w.pred = 'co_mentioned_with' GROUP BY x.subj, y.obj"),
]


def planted_mentions(seed: int) -> pd.DataFrame:
    """The generator's gold mentions with their turn context, linked to
    their planted entity — what ``canonicalize_mentions`` yields when
    every mention links exactly."""
    from nametag3_spark.data.synth import generate_conversation

    rows = []
    for conv in range(N_CONVS):
        turns, gold = generate_conversation(seed, conv, N_CONVS, AVG_TURNS)
        by_idx = {t["turn_idx"]: t for t in turns}
        for g in gold:
            t = by_idx[g["turn_idx"]]
            rows.append((
                g["conv_id"], g["turn_idx"], t["role"], t["tool"], t["ts"], g["label"],
                g["start_tok"], g["end_tok"], g["surface"], g["surface"].lower(),
                "e:" + g["entity_id"],
            ))
    return pd.DataFrame(rows, columns=gen.MENTION_COLUMNS + ["entity_canonical"])


def _bag(result) -> list:
    if isinstance(result, bool):
        return [result]
    return sorted(tuple(str(v) for v in row) for row in result)


def _reference(triples_pdf: pd.DataFrame) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    try:
        con.register("t", triples_pdf)
        out = {}
        for name, _q, sql in QUERIES:
            rows = con.execute(sql).fetchall()
            out[name] = [bool(rows[0][0])] if name == "ask" else _bag(rows)
        return out
    finally:
        con.close()


def run(ctx: Ctx):
    """→ (end-to-end metrics, a callable giving the per-layer metrics once
    the session has stopped, or None when the run is untraced)."""
    from nametag3_spark.operators import sparql
    from nametag3_spark.operators.triples import emit_triples
    from nametag3_spark.serving import ModelRegistry, process_requests
    from nametag3_spark.sources.triplestore import read_triple_store, write_triple_store

    spark, tr = ctx.spark, ctx.tracer

    triples = emit_triples(spark.createDataFrame(planted_mentions(ctx.seed))).cache()
    triples_pdf = triples.toPandas()
    for k in range(SETUP_REPS):
        def write(k=k):
            with tr.span("triplestore.write", "triplestore"):
                write_triple_store(triples, f"kg_{k}", n_buckets=N_BUCKETS)
        ctx.setup(write)
    store = read_triple_store(spark, f"kg_{SETUP_REPS - 1}")
    triples.unpersist()
    ctx.mark("setup")
    expected = _reference(triples_pdf)

    registry = ModelRegistry()
    registry.register("nametag3-multilingual-250203:nametag3-english", scorer="oracle")
    batches = []
    for b in range(NER_BATCHES):
        pdf, statuses = gen.request_batch(ctx.seed, b, NER_BATCH)
        schema = ", ".join(f"{c} string" for c in gen.REQUEST_COLUMNS)
        batches.append((spark.createDataFrame(pdf, schema), statuses))

    def force_plan(df) -> None:
        df._jdf.queryExecution().executedPlan()

    def query_op(text: str):
        def op():
            if tr.enabled:
                with tr.span("sparql.parse", "sparql"):
                    sparql.parse(text)
            with tr.span("sparql.compile", "sparql") as sp:
                result = sparql.execute(store, text)
            if isinstance(result, bool):
                if sp is not None:  # ASK runs its action inside execute()
                    sp.name = "sparql.exec"
                return result
            with tr.span("sparql.plan", "sparql"):
                force_plan(result)
            with tr.span("sparql.exec", "sparql"):
                return result.collect()
        return op

    def ner_op(b: int):
        requests, _ = batches[b % NER_BATCHES]

        def op():
            with tr.span("serving.build", "serving"):
                responses = process_requests(requests, registry, max_request_size=gen.MAX_REQUEST_BYTES)
            with tr.span("serving.plan", "serving"):
                force_plan(responses)
            with tr.span("serving.exec", "serving"):
                return responses.collect()
        return op

    rows_out: list[int] = []
    errors: list[int] = []
    per_query: dict[str, list[tuple[float, float]]] = {q[0]: [] for q in QUERIES}  # (wall, cpu)

    # one cycle: the query mix in groups of QUERIES_PER_BATCH, each group
    # followed by an NER batch
    group = QUERIES_PER_BATCH + 1
    cycle = len(QUERIES) // QUERIES_PER_BATCH * group

    def step(i: int, mode: str = "measure") -> None:
        pos, n = i % cycle, i // cycle
        if pos % group != QUERIES_PER_BATCH:
            q = QUERIES[pos - pos // group]
            result = ctx.op("sparql", query_op(q[1]), mode)
            if result is not None:
                ctx.check(f"{q[0]} equals DuckDB", _bag(result) == expected[q[0]],
                          f"{len(_bag(result))} rows vs {len(expected[q[0]])}")
                if mode == "measure":
                    rows_out.append(1 if isinstance(result, bool) else len(result))
                    per_query[q[0]].append((ctx.walls["sparql"][-1], ctx.cpus["sparql"][-1]))
        else:
            b = n * (cycle // group) + pos // group
            result = ctx.op("ner", ner_op(b), mode)
            if result is not None:
                got = {r["request_id"]: r["status"] for r in result}
                want = batches[b % NER_BATCHES][1]
                ctx.check("NER status matches planted kind", got == want,
                          f"{sum(got.get(k) != v for k, v in want.items())} of {len(want)} differ")
                if mode == "measure":
                    errors.append(sum(v != 200 for v in got.values()))

    ctx.mark("reference")
    # warm-up, checked like the rest but not timed: a process's first
    # cycle costs 2-3x a later one (JIT, codegen caches), and per-op CPU
    # time keeps falling for about seven cycles, so the measured cycles
    # are a fixed count that sits at the same place on that curve in
    # every run
    for i in range(WARMUP_CYCLES * cycle):
        step(i, mode="warmup")
    ctx.mark("warmup")
    with common.RssSampler() as rss:
        ctx.window(step, min_steps=MEASURED_CYCLES * cycle)
        ctx.overhead_probe([lambda mode, i=i: step(i, mode) for i in range(group)])
    ctx.mark("measured")
    q_walls, n_walls = ctx.walls["sparql"], ctx.walls["ner"]
    # one pass of the mix: each query at its own median, so the figure
    # does not jump between queries of different cost as a plain median
    # over the pooled samples does
    mix_s, mix_cpu = (sum(statistics.median(s[k] for s in samples) for samples in per_query.values())
                      for k in (0, 1))
    e2e = {
        "setup_s": ctx.session_s + statistics.median(ctx.setup_walls),
        "op_cpu_s": mix_cpu,
        "items_per_cpu_s": NER_BATCH / statistics.median(ctx.cpus["ner"]),
    }
    ctx.report.update({
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "sparql_mix_ms": (mix_s * 1e3, "ms"),
        "sparql_p50_ms": (statistics.median(q_walls) * 1e3, "ms"),
        "sparql_p90_ms": (common.p90(q_walls) * 1e3, "ms"),
        "ner_p50_ms": (statistics.median(n_walls) * 1e3, "ms"),
        "ner_p90_ms": (common.p90(n_walls) * 1e3, "ms"),
        "sparql_queries": (len(q_walls), "count"),
        "ner_batches": (len(n_walls), "count"),
        "store_triples": (len(triples_pdf), "count"),
    })
    if not ctx.trace:
        return e2e, None

    def finish():
        layers, by_name, n_kind = layer_rollup(
            ctx, {"sparql": "sparql", "serving": "ner", "triplestore": "setup"}, "sparql")

        def per_ms(kind: str, name: str) -> float:
            return 1e3 * by_name[(kind, name)] / n_kind[kind]

        # op_cpu_s measures a pass of the mix; the rollup's op is one query
        layers["op.s"] *= len(QUERIES)
        layers["op.self_s"] *= len(QUERIES)
        layers.update({
            "triplestore.write_s": by_name[("setup", "triplestore.write")] / n_kind["setup"],
            "sparql.parse_ms": per_ms("sparql", "sparql.parse"),
            "sparql.compile_ms": per_ms("sparql", "sparql.compile"),
            "sparql.plan_ms": per_ms("sparql", "sparql.plan"),
            "sparql.exec_ms": per_ms("sparql", "sparql.exec"),
            "sparql.rows_out": sum(rows_out) / len(rows_out),
            "serving.build_ms": per_ms("ner", "serving.build"),
            "serving.plan_ms": per_ms("ner", "serving.plan"),
            "serving.exec_ms": per_ms("ner", "serving.exec"),
            "serving.requests": NER_BATCH,
            "serving.errors": sum(errors) / len(errors),
            "trace.overhead_ms": overhead_ms(ctx),
            **not_called("validate", "infer", "mentions", "linking", "canonicalize", "emit", "store"),
        })
        return layers
    return e2e, finish

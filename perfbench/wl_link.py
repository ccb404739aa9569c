"""``link``: ``link_mentions(fuzzy=True)`` → ``canonicalize_mentions`` →
``emit_triples`` into a noop sink, over a generated gazetteer of
thousands of multi-token aliases and a mentions table with fixed shares
of exact, typo'd and unknown surfaces under Zipf entity popularity.

The only workload where MinHash banding, the Jaccard verify and
connected components over many components do real work; it bypasses
the Python mentions pass and the snapshot writes. Ops are timed warm:
the first, untimed pass collects the canonical mentions for the
correctness checks.
"""

from __future__ import annotations

import statistics

from perfbench import common, gen
from perfbench.harness import Ctx, layer_rollup, not_called, overhead_ms

N_ENTITIES = 1000
N_MENTIONS = 10000
SETUP_REPS = 3


def run(ctx: Ctx):
    """→ (end-to-end metrics, a callable giving the per-layer metrics once
    the session has stopped, or None when the run is untraced)."""
    from nametag3_spark.operators.canonicalize import canonicalize_mentions
    from nametag3_spark.operators.linking import link_mentions
    from nametag3_spark.operators.triples import emit_triples

    spark, tr = ctx.spark, ctx.tracer
    gaz_pdf, men_pdf, truth = gen.link_inputs(ctx.seed, N_ENTITIES, N_MENTIONS)

    def write_inputs(k: int) -> tuple[str, str]:
        paths = ctx.env.path(f"gaz-{k}"), ctx.env.path(f"men-{k}")
        spark.createDataFrame(gaz_pdf).write.parquet(paths[0])
        spark.createDataFrame(men_pdf).write.parquet(paths[1])
        return paths

    for k in range(SETUP_REPS):
        gaz_path, men_path = ctx.setup(lambda: write_inputs(k))
    ctx.mark("setup")
    gazetteer = spark.read.parquet(gaz_path)
    mentions = spark.read.parquet(men_path)

    def materialize(df, layer: str):
        """Traced runs only: compute the layer's output on its own."""
        if not tr.enabled:
            return df
        with tr.span(f"{layer}.materialize", layer):
            return df.localCheckpoint(eager=True)

    def pipeline():
        with tr.span("linking.call", "linking"):
            linked = link_mentions(mentions, gazetteer, fuzzy=True)
        linked = materialize(linked, "linking")
        with tr.span("canonicalize.call", "canonicalize"):
            canonical = canonicalize_mentions(linked)
        return materialize(canonical, "canonicalize")

    def op():
        canonical = pipeline()
        with tr.span("emit.call", "emit"):
            triples = emit_triples(canonical)
            triples.write.format("noop").mode("overwrite").save()

    # untimed first pass: the output the checks read, and the warm-up
    cols = ["conv_id", "turn_idx", "start_tok", "mention_norm", "label",
            "entity_id", "link_method", "entity_canonical"]
    first = canonicalize_mentions(link_mentions(mentions, gazetteer, fuzzy=True)).cache()
    rows = first.select(*cols).collect()
    n_triples = emit_triples(first).count()
    first.unpersist()
    ctx.mark("first_pass")
    mix = _check(ctx, rows, gaz_pdf, truth)

    with common.RssSampler() as rss:
        ctx.window(lambda i: ctx.op("link", op))
        ctx.overhead_probe([lambda mode: ctx.op("link", op, mode)] * 2)

    ctx.mark("measured")
    wall = statistics.median(ctx.walls["link"])
    cpu = statistics.median(ctx.cpus["link"])
    e2e = {
        "setup_s": ctx.session_s + statistics.median(ctx.setup_walls),
        "op_cpu_s": cpu,
        "items_per_cpu_s": N_MENTIONS / cpu,
    }
    exact, lsh, unlinked = mix["exact"], mix["lsh"], mix[None]
    ctx.report.update({
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "link_p50_ms": (wall * 1e3, "ms"),
        "link_mentions_per_s": (N_MENTIONS / wall, "1/s"),
        "distinct_surfaces": (men_pdf["mention_norm"].nunique(), "count"),
        "linked_exact": (exact, "count"),
        "linked_lsh": (lsh, "count"),
        "unlinked": (unlinked, "count"),
    })
    if not ctx.trace:
        return e2e, None

    def finish():
        layers = layer_rollup(ctx, {}, "link")[0]
        linked_rows = [r for r in rows if r["entity_id"] is not None]
        layers.update({
            "linking.exact": exact, "linking.lsh": lsh, "linking.unlinked": unlinked,
            "linking.lsh_hit_ratio": lsh / (lsh + unlinked),
            "canonicalize.edges": len({(r["mention_norm"], r["label"], r["entity_id"]) for r in linked_rows}),
            "canonicalize.components": len({r["entity_canonical"] for r in linked_rows}),
            "emit.triples_out": n_triples,
            "trace.overhead_ms": overhead_ms(ctx),
            **not_called("validate", "infer", "mentions", "store", "triplestore", "sparql", "serving"),
        })
        return layers
    return e2e, finish


def _check(ctx: Ctx, rows, gaz_pdf, truth: dict) -> dict:
    """Each mention once; exact links are the planted entity; every lsh
    link clears char-3 Jaccard 0.5; one canonical id per entity id."""
    seen: dict[tuple, int] = {}
    for r in rows:
        key = (r["conv_id"], r["turn_idx"], r["start_tok"])
        seen[key] = seen.get(key, 0) + 1
    ctx.check("every mention exactly once",
              set(seen) == set(truth) and all(v == 1 for v in seen.values()),
              f"{len(seen)} keys, {sum(v != 1 for v in seen.values())} repeated, {len(truth)} planted")
    aliases: dict[str, list[str]] = {}
    for eid, norm in zip(gaz_pdf["entity_id"], gaz_pdf["alias_norm"]):
        aliases.setdefault(eid, []).append(norm)
    mix = {"exact": 0, "lsh": 0, None: 0}
    bad_exact = bad_lsh = 0
    canon_of: dict[str, set] = {}
    for r in rows:
        mix[r["link_method"]] += 1
        key = (r["conv_id"], r["turn_idx"], r["start_tok"])
        if r["link_method"] == "exact":
            bad_exact += truth[key] != ("exact", r["entity_id"])
        elif r["link_method"] == "lsh":
            bad_lsh += max(gen.jaccard(r["mention_norm"], a) for a in aliases[r["entity_id"]]) < 0.5
        if r["entity_id"] is not None:
            canon_of.setdefault(r["entity_id"], set()).add(r["entity_canonical"])
    ctx.check("exact links equal the planted entity", bad_exact == 0, f"{bad_exact} wrong")
    ctx.check("lsh links clear Jaccard 0.5", bad_lsh == 0, f"{bad_lsh} below")
    split = sum(len(v) > 1 for v in canon_of.values())
    ctx.check("one canonical id per entity id", split == 0, f"{split} entities split")
    ctx.check("link mix has exact, lsh and unlinked", all(mix.values()), str(mix))
    return mix

"""Committed fuzzy-link snapshot: ``link_mentions(fuzzy=True)`` over synth
mentions whose surfaces are half perturbed (so they miss the exact
gazetteer join and go through MinHash-LSH) is pinned row for row. Any
drift in shingling, signatures, banding or Jaccard verification fails
this test with a diff.

Regenerate (only after an INTENDED semantic change) with:

    PYTHONPATH=. python tests/test_fuzzy_link_golden.py

which rewrites tests/golden_fuzzy_link.json from the current code.
"""

from __future__ import annotations

import json
import pathlib

GOLDEN = pathlib.Path(__file__).parent / "golden_fuzzy_link.json"
N_CONVS, AVG_TURNS = 30, 8
COLS = ["conv_id", "turn_idx", "start_tok", "mention_norm", "entity_id", "link_method"]


def perturbed_mentions(spark):
    """Synth mentions with every surface whose crc32 is even suffixed by
    an ``x``, so about half miss the exact gazetteer join. Also the input
    of test_pipeline.py's best-candidate broadcast guard test."""
    from pyspark.sql import functions as F

    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.operators.infer import annotate_turns
    from nametag3_spark.operators.triples import extract_mentions

    t = synth_transcripts(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS)
    mentions = extract_mentions(annotate_turns(t, scorer="oracle"))
    return mentions.withColumn(
        "mention_norm",
        F.when(
            F.crc32(F.col("mention_norm")) % 2 == 0,
            F.concat(F.col("mention_norm"), F.lit("x")),
        ).otherwise(F.col("mention_norm")),
    )


def _current_rows(spark) -> list[list]:
    from nametag3_spark.data.synth import gazetteer_df
    from nametag3_spark.operators.linking import link_mentions

    linked = link_mentions(perturbed_mentions(spark), gazetteer_df(spark), fuzzy=True)
    rows = [list(r) for r in linked.select(*COLS).collect()]
    return sorted(rows, key=lambda r: [("" if v is None else v) for v in r])


def test_fuzzy_link_matches_committed_golden(spark):
    got = _current_rows(spark)
    expected = json.loads(GOLDEN.read_text())
    # the input must exercise every tier, or the snapshot proves nothing
    assert {r[5] for r in expected} == {"exact", "lsh", None}
    assert got == expected


if __name__ == "__main__":
    from nametag3_spark.session import get_spark

    rows = _current_rows(get_spark(master="local[4]", shuffle_partitions=8))
    GOLDEN.write_text(json.dumps(rows, ensure_ascii=False, indent=0))
    print(f"wrote {len(rows)} golden fuzzy-link rows to {GOLDEN}")

"""Seeded input generators for the benchmark workloads.

Everything here is plain Python over a numpy PCG64 stream derived from
the seed, so the same seed gives byte-identical inputs and the program
under test only ever sees the generated tables. Planted truth (which
entity a mention was drawn from, which status a request must get) stays
on the benchmark side for the correctness checks.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from nametag3_spark.data.synth import GAZETTEER, ROLES, TOOLS, generate_conversation

ENTITY_TYPES = ["PER", "ORG", "LOC", "MISC"]
# unknown words are built from syllables no alias uses, so one rarely
# lands near an alias by chance
_SYL = [
    "ka", "ro", "mi", "ten", "sa", "vol", "der", "li", "no", "bra",
    "kel", "ma", "tor", "vi", "zan", "pe", "gor", "lu", "hal", "den",
    "ri", "sto", "bel", "ca", "mon", "fi", "tra", "nes", "dor", "ul",
]
_UNK_SYL = ["quix", "yph", "wuz", "xyl", "jeq", "ozz", "kwy", "uxh", "fyj", "zyq"]
_ORG_SUFFIX = ["Corp", "Group", "Labs", "Bank", "Works"]
_TS_BASE = datetime(2026, 1, 1, tzinfo=timezone.utc)

GAZ_COLUMNS = ["entity_id", "alias", "entity_type", "alias_ntok", "alias_norm"]
MENTION_COLUMNS = [
    "conv_id", "turn_idx", "role", "tool", "ts", "label",
    "start_tok", "end_tok", "surface", "mention_norm",
]
REQUEST_COLUMNS = ["request_id", "endpoint", "data", "model", "input", "output"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, stream])))


def frame_digest(df: pd.DataFrame) -> str:
    """Order-independent content digest of a pandas frame."""
    rows = sorted(json.dumps([str(v) for v in r]) for r in df.itertuples(index=False))
    return hashlib.sha256("\n".join([",".join(df.columns), *rows]).encode()).hexdigest()


# ---------------------------------------------------------------- build


def transcripts_frame(seed: int, n_convs: int, avg_turns: int) -> pd.DataFrame:
    """The rows ``synth_transcripts(n_convs, avg_turns, seed)`` produces,
    built locally (the generator is pure per conversation)."""
    rows: list[dict] = []
    for conv in range(n_convs):
        rows.extend(generate_conversation(seed, conv, n_convs, avg_turns)[0])
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


# ----------------------------------------------------------------- link


def _word(rng: np.random.Generator, syl: list[str], lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(syl[int(i)] for i in rng.integers(0, len(syl), n)).title()


def _typo(rng: np.random.Generator, text: str) -> str:
    """One character edit inside one token (never the separating space)."""
    toks = text.split(" ")
    t = int(rng.integers(0, len(toks)))
    w = toks[t]
    i = int(rng.integers(1, len(w)))
    op = int(rng.integers(0, 3))
    ch = "aeioukrst"[int(rng.integers(0, 9))]
    if op == 0:
        w = w[:i] + ch + w[i + 1:]
    elif op == 1:
        w = w[:i] + w[i + 1:]
    else:
        w = w[:i] + ch + w[i:]
    toks[t] = w
    return " ".join(toks)


EXACT_SHARE, TYPO_SHARE, ZIPF_S = 0.6, 0.2, 1.1


def link_inputs(
    seed: int, n_entities: int, n_mentions: int
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """→ (gazetteer, mentions, truth).

    The gazetteer holds ``n_entities`` entities with 1–3 multi-token
    aliases each. Mentions pick an entity by Zipf(``ZIPF_S``) popularity,
    then are an exact alias (``EXACT_SHARE``), an alias with one typo
    (``TYPO_SHARE``) or an unknown word sequence (the rest). ``truth``
    maps each mention key (conv_id, turn_idx, start_tok) to
    (kind, planted entity_id); no typo or unknown surface equals an
    alias, so an exact link can only come from an exact mention.
    """
    rng = _rng(seed, 1)
    gaz_rows: list[tuple] = []
    aliases_by_entity: list[list[str]] = []
    types: list[str] = []
    taken: set[str] = set()
    for e in range(n_entities):
        etype = ENTITY_TYPES[int(rng.integers(0, len(ENTITY_TYPES)))]
        eid = f"G{e:06d}"
        mine: list[str] = []
        for _ in range(int(rng.integers(1, 4))):
            while True:
                toks = [_word(rng, _SYL, 2, 3) for _ in range(int(rng.integers(2, 4)))]
                if etype == "ORG":
                    toks[-1] = _ORG_SUFFIX[int(rng.integers(0, len(_ORG_SUFFIX)))]
                alias = " ".join(toks)
                if alias.lower() not in taken:
                    break
            taken.add(alias.lower())
            mine.append(alias)
            gaz_rows.append((eid, alias, etype, len(toks), alias.lower()))
        aliases_by_entity.append(mine)
        types.append(etype)
    gazetteer = pd.DataFrame(gaz_rows, columns=GAZ_COLUMNS)

    weights = 1.0 / np.arange(1, n_entities + 1) ** ZIPF_S
    weights /= weights.sum()
    popularity = rng.permutation(n_entities)  # which entity is the head
    picks = popularity[rng.choice(n_entities, size=n_mentions, p=weights)]
    kinds = rng.random(n_mentions)

    rows: list[tuple] = []
    truth: dict[tuple, tuple[str, str]] = {}
    conv, turn, tok, in_turn = 0, 0, 0, int(rng.integers(1, 4))
    for m in range(n_mentions):
        e = int(picks[m])
        alias = aliases_by_entity[e][int(rng.integers(0, len(aliases_by_entity[e])))]
        if kinds[m] < EXACT_SHARE:
            kind, surface = "exact", alias
        elif kinds[m] < EXACT_SHARE + TYPO_SHARE:
            kind, surface = "typo", _typo(rng, alias)
            while surface.lower() in taken:
                surface = _typo(rng, alias)
        else:
            kind = "unknown"
            surface = " ".join(_word(rng, _UNK_SYL, 2, 3) for _ in range(2))
            while surface.lower() in taken:
                surface = " ".join(_word(rng, _UNK_SYL, 2, 3) for _ in range(2))
        conv_id = f"lc{conv:06d}"
        ntok = surface.count(" ") + 1
        role = ROLES[int(rng.integers(0, len(ROLES)))]
        tool = TOOLS[int(rng.integers(0, len(TOOLS)))] if role == "tool" else None
        rows.append((
            conv_id, turn, role, tool,
            _TS_BASE + timedelta(seconds=conv * 3600 + turn * 7),
            types[e], tok, tok + ntok - 1, surface, surface.lower(),
        ))
        truth[(conv_id, turn, tok)] = (kind, f"G{e:06d}")
        tok += ntok + 1
        in_turn -= 1
        if in_turn == 0:
            turn, tok, in_turn = turn + 1, 0, int(rng.integers(1, 4))
            if turn == 8:
                conv, turn = conv + 1, 0
    mentions = pd.DataFrame(rows, columns=MENTION_COLUMNS)
    mentions["turn_idx"] = mentions["turn_idx"].astype("int32")
    mentions["start_tok"] = mentions["start_tok"].astype("int32")
    mentions["end_tok"] = mentions["end_tok"].astype("int32")
    return gazetteer, mentions, truth


def char3_shingles(text: str) -> set[str]:
    """The linker's char-3 shingle set (``^`` + text + ``$``, sliding)."""
    padded = "^" + text + "$"
    return {padded[i:i + 3] for i in range(max(len(padded) - 2, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = char3_shingles(a), char3_shingles(b)
    return len(sa & sb) / len(sa | sb)


# --------------------------------------------------------------- online

MAX_REQUEST_BYTES = 2048
# (kind, share, expected status)
REQUEST_KINDS = [
    ("recognize", 0.40, 200),
    ("recognize_vertical", 0.10, 200),
    ("tokenize", 0.10, 200),
    ("weblicht", 0.10, 200),
    ("bad_model", 0.06, 400),
    ("bad_input", 0.06, 400),
    ("bad_output", 0.06, 400),
    ("missing_data", 0.06, 400),
    ("too_large", 0.06, 413),
]
_ALIASES = [" ".join(toks) for _eid, _t, al in GAZETTEER for toks, _n in al]
_FILLER = ["we", "met", "with", "about", "the", "deal", "in", "and", "yesterday"]


def _sentence(rng: np.random.Generator) -> list[str]:
    words: list[str] = []
    for _ in range(int(rng.integers(2, 5))):
        words += [_FILLER[int(i)] for i in rng.integers(0, len(_FILLER), int(rng.integers(1, 4)))]
        words += _ALIASES[int(rng.integers(0, len(_ALIASES)))].split(" ")
    return words + ["."]


def request_batch(seed: int, batch: int, size: int) -> tuple[pd.DataFrame, dict[str, int]]:
    """One NER request batch → (requests, expected status per request_id).

    Every batch of a size holds the same number of requests of each kind
    (the shares, rounded by largest remainder), in seeded order, so the
    work of a batch does not swing with the seed's draw of kinds."""
    rng = _rng(seed, 1000 + batch)
    shares = np.array([s for _k, s, _c in REQUEST_KINDS]) * size / sum(s for _k, s, _c in REQUEST_KINDS)
    counts = np.floor(shares).astype(int)
    counts[np.argsort(counts - shares, kind="stable")[: size - counts.sum()]] += 1
    picks = rng.permutation(np.repeat(np.arange(len(REQUEST_KINDS)), counts))
    rows: list[tuple] = []
    expected: dict[str, int] = {}
    for i, k in enumerate(picks):
        kind, _share, status = REQUEST_KINDS[int(k)]
        rid = f"b{batch}-r{i}"
        sents = [_sentence(rng) for _ in range(int(rng.integers(1, 4)))]
        text = "\n".join(" ".join(s) for s in sents)
        endpoint, data, model, inp, out = "recognize", text, None, None, None
        if kind == "recognize_vertical":
            out = "vertical"
        elif kind == "tokenize":
            endpoint = "tokenize"
        elif kind == "weblicht":
            endpoint = "weblicht/recognize"
            data = "\n\n".join(
                "\n".join(
                    f"{j + 1}\t{w}\t_\t_\t_\t_\t_\t_\t_\t_" for j, w in enumerate(s)
                )
                for s in sents
            ) + "\n\n"
        elif kind == "bad_model":
            model = "no-such-model"
        elif kind == "bad_input":
            inp = "xml"
        elif kind == "bad_output":
            out = "json"
        elif kind == "missing_data":
            data = None
        elif kind == "too_large":
            data = (text + "\n") * (MAX_REQUEST_BYTES // max(len(text), 1) + 2)
        rows.append((rid, endpoint, data, model, inp, out))
        expected[rid] = status
    return pd.DataFrame(rows, columns=REQUEST_COLUMNS), expected

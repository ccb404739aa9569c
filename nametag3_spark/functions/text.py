"""Vectorized text primitives (pandas-side, used inside Arrow UDFs).

Semantics match the reference exactly where parity matters:

* NFC normalization + 200-char word truncation
  (reference: nametag3_dataset.py:356,363 — ``unicodedata.normalize("NFC",
  form[:200])``).
* Truecasing: ``word.lower().title() if word.isupper() else word``
  (reference: nametag3_dataset.py:347-353). Note Python's ``str.title``
  differs from Spark's ``initcap`` on non-ASCII, so this stays pandas-side.
* UDPipe-lite tokenization: sentence-preserving word split on whitespace
  with punctuation detached (reference delegates to UDPipe,
  nametag3_server.py:104-137; we need a deterministic, dependency-free
  equivalent with the same downstream contract: a list of word forms per
  turn whose space-join round-trips the text for our generator's inputs).

These are plain pandas functions, not Spark UDFs — callers wrap them in
``pandas_udf`` / ``mapInPandas`` so the Arrow batch boundary stays in one
place and unit tests can hit the logic without a SparkSession.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

MAX_CHARS_PER_WORD = 200

# Detach leading/trailing punctuation as separate tokens, keep
# interior punctuation (e.g. "O'Brien", "3.14") attached. UDPipe-parity
# notes (reference delegates to model-based UDPipe tokenizers,
# nametag3_server.py:104-137; this is the deterministic equivalent):
# ellipses ("...", "…") and dash runs ("--") stay ONE token; hyphenated
# compounds stay attached; Czech-style multiword contractions keep
# their SURFACE form (CoNLL-U MWT splitting is the S4 source's job,
# see conllu_tokens); English clitics detach below (_CLITIC_RE).
_TOKEN_RE = re.compile(
    r"""
    [^\W\d_][\w'\-’]*        # word (letters, may contain ' - ’)
  | \d[\d.,:]*\d | \d             # number
  | \.{2,} | …                    # ellipsis: one token, UDPipe-style
  | -{2,} | [—–]                  # dash runs / em-en dashes: one token
  | [^\w\s]                       # single punctuation char
    """,
    re.VERBOSE | re.UNICODE,
)

# English clitic detachment (UDPipe english models: "don't" → do + n't,
# "it's" → it + 's, "we'll" → we + 'll, ...): peel clitics off a word's
# tail repeatedly ("y'all'll" → y'all + 'll); never consume the whole
# token (O'Brien, 'tis stay intact). A trailing bare apostrophe
# (plural possessive "students'") also detaches.
_CLITIC_RE = re.compile(r"(?i)(n['’]t|['’](?:s|re|ve|ll|d|m)|['’])$")


def _split_clitics(tok: str) -> list[str]:
    tail: list[str] = []
    while True:
        m = _CLITIC_RE.search(tok)
        if m is None or m.start() == 0:
            break
        tail.append(tok[m.start():])
        tok = tok[: m.start()]
    return [tok] + tail[::-1]


def nfc_truncate_series(words: pd.Series) -> pd.Series:
    """NFC-normalize and cap each word at 200 chars (P3)."""
    return words.map(
        lambda w: unicodedata.normalize("NFC", w[:MAX_CHARS_PER_WORD])
        if isinstance(w, str)
        else w
    )


def _truecase_word(word: str) -> str:
    return word.lower().title() if word.isupper() else word


def truecase_series(words: pd.Series) -> pd.Series:
    """Reference truecasing (P4), elementwise over a Series of words."""
    return words.map(lambda w: _truecase_word(w) if isinstance(w, str) else w)


def tokenize_text(text: str) -> list[str]:
    """Split one turn's text into word forms (S4, UDPipe-lite)."""
    if not text:
        return []
    out: list[str] = []
    for tok in _TOKEN_RE.findall(text):
        if len(tok) > 1 and ("'" in tok or "’" in tok):
            out.extend(_split_clitics(tok))
        else:
            out.append(tok)
    return out


# Sentence segmentation (UDPipe-lite): the reference delegates raw text
# to UDPipe's joint tokenizer+segmenter (nametag3_server.py:104-137),
# which splits sentences WITHIN a line. The deterministic equivalent:
# a boundary is [.!?]+ followed by whitespace and an upper-case/digit/
# quote sentence opener — unless the word before the period is a known
# abbreviation or a single-letter initial ("J. Smith"). Interior
# "3.14"/"e.g." never match (no whitespace after the period).
_ABBREVIATIONS = frozenset(
    "dr mr mrs ms prof st etc vs no fig cf jr sr inc ltd co corp dept est "
    "vol al eg ie ca approx resp".split()
)
_SENT_BOUNDARY_RE = re.compile(r"(?<=[.!?])([)\"'”’]*)\s+")


def split_sentences(text: str) -> list[str]:
    """Segment one line/paragraph into sentences (UDPipe-lite S4).

    Deterministic and dependency-free; errs toward NOT splitting (an
    unsplit sentence only widens model context, a false split can cut an
    entity span in half)."""
    if not text or not text.strip():
        return []
    out: list[str] = []
    start = 0
    for m in _SENT_BOUNDARY_RE.finditer(text):
        nxt = text[m.end(): m.end() + 1]
        if not (nxt.isupper() or nxt.isdigit() or nxt in "\"'“‘(["):
            continue
        prev = text[start: m.start()].rstrip(".!?")
        last_word = prev.rsplit(None, 1)[-1] if prev.split() else ""
        # abbreviation or single-letter initial → not a boundary
        if text[m.start() - 1: m.start()] == "." and (
            last_word.lower() in _ABBREVIATIONS
            or (len(last_word) == 1 and last_word.isalpha())
        ):
            continue
        left_end = m.start() + len(m.group(1))  # keep closing quotes left
        if text[start:left_end].strip():
            out.append(text[start:left_end])
            start = m.end()
    if text[start:].strip():
        out.append(text[start:])
    return out


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized turn→tokens: Series[str] → Series[list[str]]."""
    return texts.map(lambda t: tokenize_text(t) if isinstance(t, str) else [])


def prep_tokens(text: str, keep_original_casing: bool = False) -> list[str]:
    """Full per-turn preprocessing: tokenize → NFC+200-char cap → truecase.

    Mirrors the reference's order of operations in ``_tokenize``
    (nametag3_dataset.py:363-366): per-word NFC+truncate first, then
    truecase (unless ``keep_original_casing``)."""
    words = [
        unicodedata.normalize("NFC", w[:MAX_CHARS_PER_WORD])
        for w in tokenize_text(text)
    ]
    return words if keep_original_casing else [_truecase_word(w) for w in words]


def conllu_tokens(conllu_text: str) -> list[str]:
    """Flattened surface-token list of CoNLL-U input WITH multiword-token
    skip (reference nametag3_server.py:595-610: when a multiword token
    covers words idFirst..idLast, its SURFACE form is emitted and the
    covered word lines are skipped — without this, ranged ids like
    ``1-2\\tvámonos`` would double-count as three tokens).

    Also ignores comment lines (``#``) and enhanced-dependency empty
    nodes (``i.j`` ids), which are never surface tokens.
    """
    if not conllu_text:
        return []
    tokens: list[str] = []
    skip_until = 0
    for line in conllu_text.splitlines():
        if not line or line.startswith("#"):
            skip_until = 0 if not line else skip_until  # sentence break resets
            continue
        cols = line.split("\t")
        tok_id = cols[0]
        form = cols[1] if len(cols) > 1 else ""
        if "." in tok_id:
            continue
        if "-" in tok_id:
            first, last = tok_id.split("-", 1)
            try:
                skip_until = int(last)
            except ValueError:
                continue
            tokens.append(form)
            continue
        try:
            idx = int(tok_id)
        except ValueError:
            continue
        if idx <= skip_until:
            continue
        tokens.append(form)
    return tokens

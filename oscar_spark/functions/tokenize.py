"""Pinned tokenizer — the single normalization rule for oracle and Spark.

Mirrors oscar's normalization semantics adapted to web text:
- unicode lowercase (reference/oscar-create/TextSearchTraits.h:78
  `unicode_to_lower`)
- diacritic transliteration via NFKD + combining-mark strip
  (reference/oscar-create/TextSearchTraits.h:72-74,81-84 DiacriticRemover)
- split on non-alphanumeric, min token length 2
  (reference/oscar-create/OsmKeyValueObjectStore.cpp:56-72 inflateValues)

Two entry points:
- tokenize(text)          — pure Python, used by the oracle engine
- tokenize_series(series) — vectorized pandas, used inside Spark UDFs

Both MUST produce identical token sequences for identical input; this is
tested (tests/test_tokenize.py) with hypothesis.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

from oscar_spark.config import MIN_TOKEN_LEN, TOKEN_SPLIT_RE

_SPLIT = re.compile(TOKEN_SPLIT_RE)
_COMBINING = re.compile("[\\u0300-\\u036f]")


def _strip_diacritics(text: str) -> str:
    return _COMBINING.sub("", unicodedata.normalize("NFKD", text))


def normalize(text: str) -> str:
    """lower + NFKD diacritic strip; applied before splitting."""
    return _strip_diacritics(text.lower())


def tokenize(text: str) -> list[str]:
    """Token sequence (with duplicates, in order) of a document/query."""
    if not text:
        return []
    return [t for t in _SPLIT.split(normalize(text)) if len(t) >= MIN_TOKEN_LEN]


# split-on-non-alnum + drop tokens shorter than MIN_TOKEN_LEN is exactly
# "find alnum runs of length ≥ MIN_TOKEN_LEN": one findall replaces
# split + a per-row Python filter (hypothesis-tested equivalent)
_TOKEN_RE = f"[a-z0-9]{{{MIN_TOKEN_LEN},}}"


def _normalize_series(texts: pd.Series) -> pd.Series:
    norm = texts.fillna("").str.lower()
    # NFKD + combining-strip is the identity on pure-ASCII text (the vast
    # majority of lowered web text) — normalize only the non-ASCII rows
    non_ascii = ~norm.map(str.isascii)
    if non_ascii.any():
        fixed = (norm[non_ascii]
                 .str.normalize("NFKD")
                 .str.replace(_COMBINING, "", regex=True))
        norm = norm.copy()
        norm[non_ascii] = fixed
    return norm


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized: Series[str] → Series[list[str]] (same rule as tokenize)."""
    return _normalize_series(texts).str.findall(_TOKEN_RE)


def normalize_field_value(v: str) -> str:
    """Pinned normalization for the key/value parts of a fielded
    `key:value` token (TextSearchTraits.h:108 analog): lower + NFKD
    strip, then non-alnum runs collapse to '-', trimmed — shared by
    build, parser, and oracle so 'en-US' indexes and queries as
    'en-us'."""
    return re.sub("[^a-z0-9]+", "-", normalize(v or "")).strip("-")


def normalize_field_series(vals: pd.Series) -> pd.Series:
    """Vectorized twin of normalize_field_value."""
    return (_normalize_series(vals)
            .str.replace("[^a-z0-9]+", "-", regex=True)
            .str.strip("-"))


def tokenize_flat(texts: pd.Series):
    """Arrow-native flat tokenization for the index build's hot path.

    → (codes:int64, uniq:pd.Index[str], doc_idx:int64, dls:int64) where
    codes are dictionary codes into uniq for every kept token, doc_idx
    maps each token to its row in `texts`, and dls is tokens-per-doc.

    Same rule as tokenize()/tokenize_series() (hypothesis-tested
    equivalent: split on non-[a-z0-9] runs == findall of alnum runs,
    then drop tokens shorter than MIN_TOKEN_LEN), but the token strings
    never exist as Python objects: lowering happens in pandas (with the
    non-ASCII NFKD fallback), then split_pattern_regex,
    list_flatten, utf8_length-filter and dictionary_encode all run in
    Arrow C++ memory.  Only the ~unique terms of the batch surface into
    Python — tokenize_series materialized every token occurrence
    (~200×/doc), which made the tokenize stage allocation/bandwidth
    bound.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    norm = _normalize_series(texts)
    arr = pa.Array.from_pandas(norm, type=pa.string())
    splits = pc.split_pattern_regex(arr, "[^a-z0-9]+")
    flat = pc.list_flatten(splits)
    lens = np.diff(splits.offsets.to_numpy(zero_copy_only=False))
    doc_idx_all = np.repeat(np.arange(len(norm), dtype=np.int64), lens)
    ok = pc.greater_equal(pc.utf8_length(flat),
                          MIN_TOKEN_LEN).to_numpy(zero_copy_only=False)
    ok = np.asarray(ok, dtype=bool)
    enc = pc.dictionary_encode(flat.filter(pa.array(ok)))
    doc_idx = doc_idx_all[ok]
    dls = np.bincount(doc_idx, minlength=len(norm)).astype(np.int64)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = pd.Index(enc.dictionary.to_pandas(), dtype=object)
    return codes, uniq, doc_idx, dls

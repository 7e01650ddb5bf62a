"""Pinned constants shared by the Spark engine AND the pure-Python oracle.

Everything that affects result values lives here, in one module, so the
two implementations cannot drift (SURVEY.md §7 "What's hard" #1).

Reference parity notes:
- BM25 replaces oscar's static-score/docID ranking (items renumbered in
  score order at build time, reference/oscar-create/OsmKeyValueObjectStore.cpp:1339-1399)
  as mandated by BASELINE.json north_rule.
- MIN_TOKEN_LEN mirrors oscar's value inflation "min token len 2"
  (reference/oscar-create/OsmKeyValueObjectStore.cpp:56-72).
- RANGE_SIZE is the analog of oscar's *cell*: postings are grouped by
  fixed doc-id ranges the way oscar groups them by spatial cell
  (reference/oscar-create/CellTextCompleter.h:25-29). A range is also the
  salt unit for head-term skew (salt = doc_id // RANGE_SIZE), so every
  encode group is bounded by RANGE_SIZE docs regardless of term df.
"""

from __future__ import annotations

# --- BM25 (Lucene-style idf; pinned, identical in oracle + Spark + SQL) ---
BM25_K1: float = 1.2
BM25_B: float = 0.75

# --- tokenizer ---
MIN_TOKEN_LEN: int = 2
# split on anything that is not a lowercase letter or digit, after
# lower() + NFKD diacritic strip.  The same regex is used verbatim in
# Spark `split()` and DuckDB `regexp_split_to_array` for the oracle
# queries, so keep it RE2/POSIX-safe (no lookaround).
TOKEN_SPLIT_RE: str = "[^a-z0-9]+"

# --- index layout ---
BLOCK_SIZE: int = 128          # max docs per posting block
RANGE_SIZE: int = 8192         # docs per range (cell analog + salt unit)
NUM_TERM_BUCKETS: int = 16     # bucket(term) partitioning of index tables
# broadcast the url→doc_id map into the postings join while it fits in
# executor memory; above this the build falls back to a shuffle join
# (at 10^12 docs the map is itself a big table)
BROADCAST_DOCID_MAX: int = 20_000_000

# default posting-block payload codec: "varint" (single-pass batched
# encoder); build_index(codec="pfor") selects PForDelta (bit-packed with
# exceptions, smaller payloads, slower encode).  The build records the
# codec in the store manifest; serve dispatches on it.  Mirrors the
# reference's per-build codec configs
# (reference/data/configs/oscar-create/index_*.json); BENCH/CODECS.md
# has the comparison that rejected the Elias-Fano and WAH variants.
POSTINGS_CODEC: str = "varint"

# --- score comparison ---
SCORE_ROUND: int = 4           # decimals when hashing/comparing scores

# --- fixtures ---
FIXTURE_SEED: int = 42
VOCAB_SIZE: int = 5000

# --- fielded terms (@key:value composite tokens,
#     reference/oscar-create/TextSearchTraits.h:108) ---
# fielded tokens get one synthetic position far past any text position
# (text positions are < dl), so a phrase can never spuriously bridge
# from the last text token into a field token
FIELD_POS_BASE: int = 1 << 30

# --- prefix queries (QT_PREFIX analog) ---
# expansion rule pinned for rank-identity: all index terms with the
# stem prefix, sorted lexicographically, capped at this many terms
MAX_PREFIX_EXPAND: int = 256

"""Binding semantic specification shared by the Spark engine and the oracle.

The reference tree (/root/reference) was empty at survey time (SURVEY.md §0),
so this module — together with ``oracle/ref_pipeline.py`` — *defines* the
semantics the distributed pipeline must reproduce (SURVEY.md §5.2 [SPEC]).
Only **constants and tiny pure helpers** live here; the oracle and the Spark
engine implement the algorithms (tokenize, featurize, Viterbi, link, CC,
triple patterns) independently so the pytest parity gates are a real
differential test (naive per-sentence loops vs vectorized/distributed path).

Everything below is deterministic and seed-stable (seed=42 where applicable).
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Tokenization (SURVEY.md §2.3 A7/A12)
# ---------------------------------------------------------------------------
# Sentences: split after ., ! or ? followed by whitespace. Offsets are
# *character* offsets into the original turn text; the byte-identity
# invariant (BASELINE.json input_hint) is checked on the raw text plus the
# (start, end, text) token triples, so both sides must slice the same string.
SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")

# Tokens: runs of word characters (unicode letters/digits/underscore) or a
# single non-space, non-word character. `re.UNICODE` is default in py3.
TOKEN_RE = re.compile(r"\w+|[^\w\s]")

# ---------------------------------------------------------------------------
# Label alphabet (CoNLL-style BIO over PER/LOC/ORG/MISC — BASELINE.json:6)
# ---------------------------------------------------------------------------
NER_TYPES = ["PER", "LOC", "ORG", "MISC"]
LABELS = ["O"] + [f"{b}-{t}" for t in NER_TYPES for b in ("B", "I")]
# => ['O','B-PER','I-PER','B-LOC','I-LOC','B-ORG','I-ORG','B-MISC','I-MISC']
L = len(LABELS)
LABEL_IDX = {lab: i for i, lab in enumerate(LABELS)}

# ---------------------------------------------------------------------------
# Feature hashing (SURVEY.md §2.3 A8) — FNV-1a 64-bit over UTF-8 bytes,
# mixed with a per-template salt via splitmix64. D = 2**20 buckets.
# ---------------------------------------------------------------------------
D = 1 << 20
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a(s: str) -> int:
    """FNV-1a 64-bit hash of the UTF-8 encoding of ``s``."""
    h = _FNV_OFFSET
    for b in s.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def feat_index(template_id: int, h: int) -> int:
    """Bucket index in [0, D) for feature (template, 64-bit payload hash)."""
    return splitmix64((h ^ (template_id * 0x9E3779B97F4A7C15)) & _MASK64) % D


# Feature templates. Payload listed for documentation; both implementations
# must emit exactly this set per token.
T_BIAS = 0        # payload "BIAS" (every token)
T_WORD = 1        # lowercase token text
T_SHAPE = 2       # word shape (see shape())
T_FLAG = 3        # "CAP" if istitle, "UPP" if isupper&len>1, "DIG" if isdigit
T_PREFIX = 4      # lowercase prefixes, lengths 1..3 (payload f"{n}:{p}")
T_SUFFIX = 5      # lowercase suffixes, lengths 1..3 (payload f"{n}:{s}")
T_PREV = 6        # lowercase previous token in sentence ("<S>" at start)
T_NEXT = 7        # lowercase next token in sentence ("</S>" at end)
T_GAZ = 8         # gazetteer BIO membership: payload f"{bi}-{ner_type}"

BIAS_PAYLOAD = "BIAS"
BOS_PAYLOAD = "<S>"
EOS_PAYLOAD = "</S>"

_SHAPE_UP = re.compile(r"[A-ZÀ-Þ]")
_SHAPE_LO = re.compile(r"[a-zà-þ]")
_SHAPE_DG = re.compile(r"[0-9]")
_SHAPE_SQUEEZE = re.compile(r"(.)\1{2,}")


def shape(tok: str) -> str:
    """Word shape: upper→X, lower→x, digit→9, other kept; runs ≥3 squeezed."""
    s = _SHAPE_UP.sub("X", tok)
    s = _SHAPE_LO.sub("x", s)
    s = _SHAPE_DG.sub("9", s)
    return _SHAPE_SQUEEZE.sub(r"\1\1", s)


# Max gazetteer phrase length in tokens (matching window).
GAZ_MAX_LEN = 4

# ---------------------------------------------------------------------------
# Model (fixtures/model — SURVEY.md §5.3 B5). Generated, not trained.
# ---------------------------------------------------------------------------
MODEL_SEED = 42
NOISE_SCALE = 0.01
BIAS_O_WEIGHT = 3.0          # W[O, feat(T_BIAS)] — default-to-O prior
GAZ_WEIGHT = 10.0            # W[B-X, feat(T_GAZ,"B-X")] / W[I-X, ...]
CAP_WEIGHT = 0.5             # capitalized tokens lean entity-ish
TRANS_SAME = 1.0             # T[B-X→I-X], T[I-X→I-X]
TRANS_ILLEGAL = -10000.0     # I-X after anything not B-X/I-X
MAX_SENT_LEN = 512           # sentences longer than this are hard-split

# ---------------------------------------------------------------------------
# Linking (SURVEY.md §2.4 B1/B2/B13)
# ---------------------------------------------------------------------------
EMB_DIM = 32


def norm_surface(s: str) -> str:
    """Normalization for gazetteer match: casefold + collapse whitespace."""
    return " ".join(s.casefold().split())


# context embedding: tokens of the mention's sentence, casefolded;
# index = fnv1a(tok) % EMB_DIM, sign = +1 if bit 32 of fnv1a(tok) else -1;
# L2-normalized (all-zero stays all-zero).
def emb_index_sign(h: int) -> tuple[int, float]:
    return h % EMB_DIM, (1.0 if (h >> 32) & 1 else -1.0)


def cosine64_batch(A, B):
    """The binding cosine arithmetic, batched: per row, a SEQUENTIAL left
    fold over dimensions — s_0 = 0; s_j = s_{j-1} + a_j*b_j — in IEEE
    float64. Sequential order is chosen because it is exactly reproducible
    by every engine tier: this numpy column loop, a plain python loop
    (oracle), and Spark's JVM `aggregate(zip_with(a, b, (x,y)->x*y), 0D,
    (s,x)->s+x)` all perform the identical operation sequence, so scores
    agree bit-for-bit across the batch UDF-free path, the streaming path,
    and the single-process oracle."""
    import numpy as np

    A = np.asarray(A, np.float64)
    B = np.asarray(B, np.float64)
    s = np.zeros(len(A), dtype=np.float64)
    for j in range(A.shape[1]):
        s = s + A[:, j] * B[:, j]
    return s


def cosine64(a, b) -> float:
    """Single-pair cosine — delegates to the batch routine (same bits)."""
    import numpy as np

    return float(
        cosine64_batch(
            np.asarray(a, np.float64)[None, :], np.asarray(b, np.float64)[None, :]
        )[0]
    )


def round_half_even_batch(x, nd: int):
    """Elementwise == ``round(float(v), nd)`` (the binding score
    semantics: correctly-rounded half-even), vectorized.

    Fast path: scale → rint (half-even) → unscale, which is what
    np.round does but can mis-round when the scaling multiply lands
    within its own rounding error of a .5 tie. Rows whose scaled value
    lies within a few ulp of a half-integer are therefore re-done with
    python round — provably covering every case the multiply could have
    crossed (its error is ≤ 0.5 ulp of the scaled value). Empirically 0
    rows per million at link-score magnitudes; the guard turns "agrees
    in practice" into "agrees by construction". ~60x faster than the
    per-row listcomp this replaces (measured; python round + float
    boxing was ~2.7s per million candidate rows in the link stage).
    """
    import numpy as np

    x = np.asarray(x, np.float64)
    scale = 10.0**nd
    with np.errstate(over="ignore", invalid="ignore"):
        s = x * scale
        y = np.rint(s) / scale
        dist = np.abs(s - np.floor(s) - 0.5)
        # negated compare: a scaling overflow (s = inf, dist = nan) is risky too
        risky = ~(dist > 4.0 * np.abs(s) * 2.220446049250313e-16)  # 2**-52
    if risky.any():
        idx = np.nonzero(risky)[0]
        y[idx] = [round(float(x[i]), nd) for i in idx]
    return y


GAZ_SCORE_EXACT = 1.0
LINK_W_GAZ = 0.5
LINK_W_EMB = 0.5
SCORE_NDIGITS = 6  # round link/confidence scores for cross-engine stability
# Candidates: gazetteer rows with norm_surface(surface_form) ==
# norm_surface(mention.surface) AND gaz.ner_type == mention.ner_type.
# link_score = round(LINK_W_GAZ*1.0 + LINK_W_EMB*cosine(ctx, ent_emb), 6);
# best link per mention = max link_score, ties broken by ascending entity_id.
# Mentions with no candidate stay unlinked (absent from `links`).
#
# Co-reference edges (B3): within one conversation, for every normalized
# surface linked to >= 2 distinct entities, emit all unordered entity pairs.
# Connected components over those edges; canonical id = min entity_id
# (string order) in the component; unlinked/singleton entities map to self.

# ---------------------------------------------------------------------------
# Triple patterns (SURVEY.md §2.4 B5, §3.2) — role/tool-aware
# ---------------------------------------------------------------------------
# P_REL: two mentions in the same sentence whose between-text (stripped,
#        casefolded) is exactly one of REL_PHRASES → (subj, pred, obj).
REL_PHRASES = {
    "works at": "works_at",
    "lives in": "lives_in",
    "visited": "visited",
    "is based in": "based_in",
    "met": "met",
}
# P_TOOL: role='tool' turns carry a JSON payload
#   {"tool": <name>, "args": {"entity": <surface>}, "result": <str>} ;
#   subj = canonical entity of the exact-normalized gazetteer match of
#   args.entity, only when that normalized surface maps to exactly ONE
#   entity_id across the whole gazetteer (else no triple);
#   pred = "invoked:" + tool;
#   obj = canonical entity of the first (smallest start offset) *linked*
#   mention of the nearest previous turn (any role, turn_idx < this one)
#   that has >= 1 linked mention. No such turn → no triple. confidence=1.0.
TOOL_PRED_PREFIX = "invoked:"
# P_COOC: consecutive *linked* mention pairs within one turn (ordered by
#   start offset). For each consecutive pair: if both mentions are in the
#   same sentence AND the between-text (stripped, casefolded) is in
#   REL_PHRASES → a P_REL triple; otherwise → a P_COOC triple
#   (canon(m_i), "co_occurs_with", canon(m_{i+1})).
# Triples are deduped on (subj, pred, obj, conv_id, turn_idx) keeping the
# max confidence; REL/COOC confidence = round(link_i * link_j, 6); TOOL
# confidence = 1.0.
COOC_PRED = "co_occurs_with"

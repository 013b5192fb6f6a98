"""Deduplication + text-analysis operators over the documents table —
the training-data-pipeline half of the engine.

Every operator is expressed as ONE engine-parameterized SQL text
(``engine='spark' | 'duckdb'``): Spark executes it via ``spark.sql``
(pure Catalyst — string/hash functions are all JVM built-ins, no
Python anywhere), DuckDB executes the same logical plan as the
oracle.  The only dialect differences go through tiny shims
(hex→int cast, xor).

Hashing is md5-based so both engines agree bit-for-bit:

    tok_hash(t) = int(md5(t)[:8], 16)          ∈ [0, 2^32)

Operators:
- minhash signatures (m permutations (a_i·h + b_i) mod p over the
  token set) and banded LSH near-dup pairs verified with exact
  token-set Jaccard,
- 32-bit SimHash + Hamming-distance pairs,
- character n-gram Jaccard pairs,
- winnowing-style block fingerprints (min token-3-gram hash per
  position block),
- stopword-vote language ID.

Scale notes (10^12 docs): signatures/fingerprints are per-doc maps —
embarrassingly parallel.  The LSH pair join is the shuffle: band
buckets are the join key, so only same-bucket docs meet (that is the
point of LSH); hot buckets (boilerplate dups) are exactly the salted
path of operators/skew.py.  The exact-verify stage joins only
candidate pairs.
"""

from __future__ import annotations

# deterministic permutation constants (public small primes; any fixed
# values work — they just must match between engines, which they do
# because both engines run this exact text)
MINHASH_P = 2147483647
MINHASH_COEFFS = [
    (1000003, 12345),
    (999983, 54321),
    (1000033, 777),
    (1000037, 31337),
    (1000039, 271828),
    (1000081, 141421),
    (1000099, 173205),
    (1000117, 223606),
    (1000121, 244948),
    (1000133, 264575),
    (1000151, 282842),
    (1000159, 300000),
]
# 2 bands x 6 rows: band-collision probability is s^6 (s = true
# Jaccard), which keeps candidate sets sane even on highly-similar
# corpora (3x4 banding melted down on the tiny-vocabulary synthetic
# docs: every doc collided with every doc)
N_BANDS = 2
ROWS_PER_BAND = 6
SIMHASH_BITS = 32
# exact (lang, length-band) blocking candidates past which the n-gram
# Jaccard pairs swap to MinHash-LSH candidates (ngram_jaccard_pairs_df)
NGRAM_MAX_CANDIDATES = 2_000_000


def _hex2int(engine: str, h: str) -> str:
    from ..functions.portable import hex2int_sql

    return hex2int_sql(engine, h)


def _xor(engine: str, a: str, b: str) -> str:
    return f"({a} ^ {b})" if engine == "spark" else f"xor({a}, {b})"


def tok_hash_sql(engine: str, tok: str) -> str:
    return _hex2int(engine, f"substring(md5({tok}), 1, 8)")


def tok_hash60_sql(engine: str, tok: str) -> str:
    """60-bit token fingerprint (15 hex chars of md5 — fits signed
    bigint in both engines).  The exact-Jaccard refine intersects
    these bigints instead of token strings: integer-array intersection
    is ~3x cheaper per candidate pair than string hashing, and with
    p_collision ≈ n²/2^61 the set arithmetic is identical to the
    string version for any realistic vocabulary
    (tests/test_dedup_ann.py asserts collision-freedom on the corpus;
    both engines use the SAME fingerprints, so parity holds even in
    the collision case)."""
    return _hex2int(engine, f"substring(md5({tok}), 1, 15)")


def _tokens_cte(engine: str, table: str = "documents") -> str:
    """(doc_id, tok) — distinct tokens per doc (set semantics)."""
    if engine == "spark":
        exp = f"select doc_id, explode(split(text, ' ')) as tok from {table}"
    else:
        exp = f"select doc_id, unnest(string_split(text, ' ')) as tok from {table}"
    return f"select distinct doc_id, tok from ({exp}) raw where tok <> ''"


def minhash_signatures_sql(engine: str) -> str:
    """One row per doc: doc_id, mh00..mh11 (bigint)."""
    h = tok_hash_sql(engine, "tok")
    mins = ", ".join(
        f"min(({a} * {h} + {b}) % {MINHASH_P}) as mh{i:02d}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    return f"with toks as ({_tokens_cte(engine)}) select doc_id, {mins} from toks group by doc_id"


def lsh_band_sql(engine: str) -> str:
    """(doc_id, band, band_key) — md5 over each band's minhash run."""
    sig = minhash_signatures_sql(engine)
    selects = []
    for b in range(N_BANDS):
        cols = ", ".join(
            f"mh{b * ROWS_PER_BAND + r:02d}" for r in range(ROWS_PER_BAND)
        )
        selects.append(
            f"select doc_id, {b} as band, md5(concat_ws('-', {cols})) as band_key from sig"
        )
    return f"with sig as ({sig}) " + " union all ".join(selects)


def lsh_near_dup_pairs_sql(engine: str, jaccard_threshold: float = 0.8) -> str:
    """Candidate pairs from shared band buckets, refined with exact
    token-set Jaccard over 60-bit token fingerprints (tok_hash60_sql).
    Output (doc_a, doc_b, jaccard)."""
    bands = lsh_band_sql(engine)
    toks = _tokens_cte(engine)
    h60 = tok_hash60_sql(engine, "tok")
    return (
        f"with bands as ({bands}), toks as ({toks}), "
        f"hs as (select distinct doc_id, {h60} as h from toks), "
        f"sizes as (select doc_id, cast(count(*) as bigint) as n from hs group by doc_id), "
        f"cand as (select distinct b1.doc_id as doc_a, b2.doc_id as doc_b "
        f"from bands b1 join bands b2 on b1.band = b2.band and b1.band_key = b2.band_key "
        f"and b1.doc_id < b2.doc_id), "
        f"inter as (select c.doc_a, c.doc_b, cast(count(*) as bigint) as n_common "
        f"from cand c join hs ta on ta.doc_id = c.doc_a "
        f"join hs tb on tb.doc_id = c.doc_b and tb.h = ta.h "
        f"group by c.doc_a, c.doc_b) "
        f"select i.doc_a, i.doc_b, cast(round(cast(i.n_common as double) / "
        f"(sa.n + sb.n - i.n_common), 4) as double) as jaccard "
        f"from inter i join sizes sa on sa.doc_id = i.doc_a "
        f"join sizes sb on sb.doc_id = i.doc_b "
        f"where cast(i.n_common as double) / (sa.n + sb.n - i.n_common) >= {jaccard_threshold}"
    )


def simhash_sql(engine: str) -> str:
    """(doc_id, simhash) — 32-bit sign-vote SimHash over token hashes.
    Token multiplicity intentionally counts (standard SimHash uses
    term frequency as the weight)."""
    h = tok_hash_sql(engine, "tok")
    if engine == "spark":
        exp = "select doc_id, explode(split(text, ' ')) as tok from documents"
    else:
        exp = "select doc_id, unnest(string_split(text, ' ')) as tok from documents"
    bits = " + ".join(
        f"(case when sum(case when (({h}) >> {i}) % 2 = 1 then 1 else -1 end) > 0 "
        f"then cast({1 << i} as bigint) else 0 end)"
        for i in range(SIMHASH_BITS)
    )
    return (
        f"with rawtoks as ({exp}) "
        f"select doc_id, ({bits}) as simhash from rawtoks where tok <> '' group by doc_id"
    )


def simhash_pairs_sql(engine: str, max_hamming: int = 3) -> str:
    """Banded Hamming join: split the 32-bit simhash into 4 bytes; by
    pigeonhole, hamming(a,b) <= 3 forces at least one byte to match
    exactly, so candidates come from an EQUI-join on (band, byte) —
    no O(n^2) nested loop, zero recall loss — then the exact
    bit_count(xor) refine keeps true pairs."""
    sh = simhash_sql(engine)
    x = _xor(engine, "a.simhash", "b.simhash")
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    keyed = " union all ".join(
        f"select doc_id, simhash, {b} as band, "
        f"(simhash >> {b * width}) & {(1 << width) - 1} as band_val from sh"
        for b in range(n_bands)
    )
    return (
        f"with sh as ({sh}), "
        f"keyed as ({keyed}), "
        f"cand as (select distinct a.doc_id as doc_a, a.simhash as sh_a, "
        f"b.doc_id as doc_b, b.simhash as sh_b "
        f"from keyed a join keyed b on a.band = b.band and a.band_val = b.band_val "
        f"and a.doc_id < b.doc_id) "
        f"select doc_a, doc_b, cast(bit_count({x.replace('a.simhash', 'sh_a').replace('b.simhash', 'sh_b')}) as int) as hamming "
        f"from cand a_b where bit_count({x.replace('a.simhash', 'sh_a').replace('b.simhash', 'sh_b')}) <= {max_hamming}"
    )


def ngram_sql(engine: str, n: int = 3) -> str:
    """(doc_id, gram) — distinct character n-grams."""
    if engine == "spark":
        gen = (
            f"select doc_id, substring(text, pos, {n}) as gram "
            f"from (select doc_id, text, explode(sequence(1, length(text) - {n - 1})) as pos "
            f"from documents where length(text) >= {n})"
        )
    else:
        gen = (
            f"select doc_id, substring(text, cast(pos as int), {n}) as gram "
            f"from (select doc_id, text, unnest(generate_series(1, length(text) - {n - 1})) as pos "
            f"from documents where length(text) >= {n}) g"
        )
    return f"select distinct doc_id, gram from ({gen}) gg"


def ngram_jaccard_pairs_sql(engine: str, threshold: float = 0.55) -> str:
    """Exact n-gram Jaccard pairs, prefiltered to same-lang docs with
    comparable length (|len_a - len_b| small) — the classic blocked
    exact-similarity join."""
    grams = ngram_sql(engine)
    h60 = tok_hash60_sql(engine, "gram")
    return (
        f"with grams as ({grams}), "
        f"hs as (select distinct doc_id, {h60} as h from grams), "
        f"meta as (select doc_id, lang, n_chars from documents), "
        f"sizes as (select doc_id, cast(count(*) as bigint) as n from hs group by doc_id), "
        f"block as (select a.doc_id as doc_a, b.doc_id as doc_b "
        f"from meta a join meta b on a.lang = b.lang and a.doc_id < b.doc_id "
        f"and abs(a.n_chars - b.n_chars) <= 16), "
        f"inter as (select p.doc_a, p.doc_b, cast(count(*) as bigint) as n_common "
        f"from block p join hs ga on ga.doc_id = p.doc_a "
        f"join hs gb on gb.doc_id = p.doc_b and gb.h = ga.h "
        f"group by p.doc_a, p.doc_b) "
        f"select i.doc_a, i.doc_b, cast(round(cast(i.n_common as double) / "
        f"(sa.n + sb.n - i.n_common), 4) as double) as jaccard "
        f"from inter i join sizes sa on sa.doc_id = i.doc_a "
        f"join sizes sb on sb.doc_id = i.doc_b "
        f"where cast(i.n_common as double) / (sa.n + sb.n - i.n_common) >= {threshold}"
    )


def fingerprint_blocks_sql(engine: str, block: int = 8) -> str:
    """Winnowing-style fingerprints: min token-hash per block of
    ``block`` consecutive token positions → (doc_id, block_id, fp)."""
    h = tok_hash_sql(engine, "tok")
    if engine == "spark":
        exp = (
            "select doc_id, pos, tok from (select doc_id, "
            "posexplode(split(text, ' ')) as (pos, tok) from documents) raw where tok <> ''"
        )
    else:
        exp = (
            "select doc_id, cast(generate_subscripts(string_split(text, ' '), 1) as bigint) - 1 as pos, "
            "unnest(string_split(text, ' ')) as tok from documents"
        )
        exp = f"select * from ({exp}) raw where tok <> ''"
    return (
        f"with ptoks as ({exp}) "
        f"select doc_id, cast(floor(pos / {block}) as bigint) as block_id, "
        f"min({h}) as fp from ptoks group by doc_id, 2"
    )


# ---------------------------------------------------------------------------
# Spark DataFrame pipelines — the EXECUTION path.
#
# The SQL generators above remain the single source of truth for the
# DuckDB oracles, but Spark must not execute them as monolithic CTE
# texts: Catalyst inlines WITH-subtrees, so the tokenize/md5 stage of
# lsh_near_dup_pairs_sql re-ran ~5x (43.8s at sf0.1) and the md5 hash
# was recomputed once PER AGGREGATE (12x in minhash, 32x in simhash).
# The builders below produce the identical rows with:
#   - tok_hash materialized ONCE into a persisted tokens stage,
#   - every multiply-referenced stage persisted (scan appears once),
#   - n-gram blocking on (lang, floor(n_chars/16)) ∪ neighbor band —
#     a real equi-join with bounded candidates instead of a 4-value
#     blocking key that is O(n²/4) at any scale.
# ---------------------------------------------------------------------------

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sizing

_JACCARD = (
    "cast(round(cast(n_common as double) / (na + nb - n_common), 4) as double)"
)


def _persist(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def tokens_df(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, h) — every non-empty token ROW (multiplicity kept:
    SimHash weights by term frequency) with its md5-derived 32-bit hash
    materialized once per row (the SQL text recomputed the md5 once per
    aggregate-reference — 32x in simhash)."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .selectExpr(
            "doc_id",
            "tok",
            "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) as h",
        )
    )


def doc_hash_sets(
    docs: DataFrame,
    ngram: int | None = None,
    with_h60: bool = True,
    with_h: bool = False,
) -> DataFrame:
    """(doc_id, h60s[, hs]) — each doc's DISTINCT token (or character
    ``ngram``) fingerprint SET as one bigint array row, computed
    entirely map-side (guide §2.4: set-per-doc is doc-local, so the
    explode→global-distinct→re-aggregate round trip of the r3-r8
    pipeline — one Exchange for the distinct, one
    ObjectHashAggregate+Exchange per collect_set consumer — shuffles
    nothing here; the only wide plan nodes left in the dedup family
    are the band self-join and the final count).

    Docs whose token/gram set is empty are ABSENT (the exploded
    pipeline produced no row for them — same contract).  Element
    ORDER is first-occurrence (vs collect_set's arbitrary), which no
    consumer observes: minhash folds with array_min, the refine with
    array_intersect/size."""
    if ngram is None:
        # empty-set docs are filtered on the RAW text (a doc has a
        # non-empty token iff it has a non-space char) — a size(toks)
        # filter would be pushed below the projection by substitution
        # and rebuild the whole array a second time per doc
        src = docs.where(F.expr("length(replace(text, ' ', '')) > 0"))
        arr = "filter(array_distinct(split(text, ' ')), t -> t != '')"
    else:
        n = int(ngram)
        # length >= n guarantees >= 1 gram: no empty-set filter needed
        src = docs.where(F.length("text") >= n)
        arr = (
            f"array_distinct(transform(sequence(1, length(text) - {n - 1}), "
            f"p -> substring(text, p, {n})))"
        )
    # the hashing below is heavy map work with NO exchange above it, so
    # its parallelism is the input split count — a small docs table
    # arrives as 1-2 parquet splits and would hash on one core (the
    # pre-r9 pipeline was accidentally parallelized by its distinct()
    # exchange).  One narrow round-robin exchange of the raw text rows
    # (guide §8: shuffle small rows, compute wide) restores it;
    # scale-adaptive: inputs already wider than the session parallelism
    # (any real archive) skip the repartition entirely.
    p = docs.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < p:
        src = src.repartition(p)
    t = src.selectExpr("doc_id", f"{arr} as toks")
    cols = ["doc_id"]
    if with_h60:
        cols.append(
            "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10)"
            " as bigint)) as h60s"
        )
    if with_h:
        cols.append(
            "transform(toks, t -> cast(conv(substring(md5(t), 1, 8), 16, 10)"
            " as bigint)) as hs"
        )
    return t.selectExpr(*cols)


def _minhash_sig_from_sets(sets: DataFrame) -> DataFrame:
    """(doc_id, mh00..mh11) from the per-doc 32-bit hash ARRAY ``hs``
    — ``array_min`` over the permuted array replaces the former
    groupBy(doc_id).agg(12×min) whose partial+final HashAggregate pair
    cost an Exchange per signature consumer.  Same values: min over
    the same multiset of (a·h+b) % p."""
    return sets.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
            f" as mh{i:02d}"
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ],
    )


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    # map-only path: per-doc hash arrays, zero Exchange (guide §2.4)
    return _minhash_sig_from_sets(doc_hash_sets(docs, with_h60=False, with_h=True))


def lsh_near_dup_pairs_df(docs: DataFrame, jaccard_threshold: float = 0.8) -> DataFrame:
    """Same rows as lsh_near_dup_pairs_sql, as a staged pipeline:
    per-doc fingerprint-set arrays (map-only, persisted once) →
    in-row signatures → band buckets (equi-join key) → candidate
    pairs → exact-Jaccard refine over the same persisted arrays.
    (with_h: the signature fold needs the 32-bit hashes alongside the
    refine's 60-bit ones.)"""
    sets = _persist(doc_hash_sets(docs, with_h=True))
    cand = _lsh_band_candidates(sets)
    return _jaccard_refine(cand, sets, jaccard_threshold)


def banded_pairs(
    rows: DataFrame,
    id_col: str,
    keys,
    a: str,
    b: str,
    carry=(),
    pair: str | None = None,
) -> DataFrame:
    """THE banded self-join behind every near-duplicate path (minhash
    bands, simhash bytes, phash bytes, sign-LSH tables).

    ``rows`` holds one row per record: ``id_col``, the level-key
    columns ``keys`` (k0..k{n-1}) and the ``carry`` columns.  One
    ``stack`` turns them into (level, key) rows; the two aliased sides
    equi-join on (level, key), so only same-bucket records meet (the
    point of LSH), and first-collision emission (every earlier level's
    keys must differ) yields each pair once without a dedup shuffle.
    ``pair`` is the pair predicate over the id aliases ``a``/``b``
    (default ``a < b``).  Output: ``a``, ``b`` and ``<c>_a``/``<c>_b``
    per carried column.  Callers persist ``rows`` when computing them
    is not cheap: both sides read it."""
    keys, carry = list(keys), list(carry)
    n = len(keys)
    stacked = ", ".join(f"{lvl}, {k}" for lvl, k in enumerate(keys))
    keyed = rows.selectExpr(
        id_col, *keys[:-1], *carry, f"stack({n}, {stacked}) as (_level, _key)"
    )

    def side(alias: str, s: str) -> DataFrame:
        return keyed.select(
            F.col(id_col).alias(alias),
            *[F.col(c).alias(f"{c}_{s}") for c in keys[:-1] + carry],
            "_level",
            "_key",
        )

    # first-collision emission: a pair joining at level L is kept iff
    # every EARLIER level's keys differ, so a pair colliding at several
    # levels is produced once (at its lowest) with no distinct()
    first_collision_pred = " and ".join(
        [f"(_level <= {i} or {k}_a <> {k}_b)" for i, k in enumerate(keys[:-1])]
        or ["true"]
    )
    return (
        side(a, "a")
        .join(side(b, "b"), ["_level", "_key"])
        .where(F.expr(pair or f"{a} < {b}"))
        .where(F.expr(first_collision_pred))
        .select(a, b, *[f"{c}_{s}" for c in carry for s in ("a", "b")])
    )


def _lsh_band_candidates(sets: DataFrame) -> DataFrame:
    """MinHash-banded candidate pairs (doc_a, doc_b) over any
    (doc_id, hs)-shaped per-doc hash-ARRAY table (doc_hash_sets): one
    md5 key per band of ROWS_PER_BAND signature values, banded-joined.
    The key rows are persisted (both join sides read them) and come
    from the in-row signature fold with ZERO exchanges, so the band
    join is the plan's only wide node."""
    band_keys = [
        "md5(concat_ws('-', "
        + ", ".join(f"mh{b * ROWS_PER_BAND + r:02d}" for r in range(ROWS_PER_BAND))
        + f")) as k{b}"
        for b in range(N_BANDS)
    ]
    rows = _persist(_minhash_sig_from_sets(sets).selectExpr("doc_id", *band_keys))
    return banded_pairs(rows, "doc_id", [f"k{b}" for b in range(N_BANDS)], "doc_a", "doc_b")


def _jaccard_refine(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """cand (doc_a, doc_b) → exact token/gram-set Jaccard ≥ threshold,
    over a per-doc fingerprint-array table ``sets`` (doc_id, h60s —
    doc_hash_sets output; one bigint array per doc, built map-side).

    The naive refine (cand ⋈ toks ⋈ toks on tok, then re-group) shuffles
    Σ_pairs |tokens(a)| rows — ~500M at sf0.1 where the synthetic corpus
    has ~2M true near-dup pairs.  Instead candidates join the per-doc
    array table and the intersection is computed map-side with
    ``array_intersect`` over longs: zero exploded shuffle, no per-pair
    string hashing, O(|a|+|b|) per pair.

    The broadcast is SIZED, not hardcoded: the payload is one 8-byte
    fingerprint per set element, so ``sum(size(h60s)) * 9`` bounds its
    bytes within ~15% (a cheap agg over the persisted arrays), and
    ``sizing.broadcast_or_shuffle`` broadcasts under the budget.  Past
    it — ~10^8 docs would rupture driver/executor memory — the plan
    degrades to a SHUFFLE_HASH equi-join on doc id with identical
    rows."""
    est_bytes = sets.selectExpr("coalesce(sum(size(h60s)), 0) as n").first()[0] * 9
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("h60s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("h60s").alias("sb"))
    sa = sizing.broadcast_or_shuffle(sa, est_bytes)
    sb = sizing.broadcast_or_shuffle(sb, est_bytes)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "sa",
            "sb",
            "cast(size(sa) as bigint) as na",
            "cast(size(sb) as bigint) as nb",
        )
        # length filter (PPJoin-style): J(A,B) <= min(|A|,|B|)/max, so
        # size-dissimilar candidates die on two ints before the
        # O(|A|+|B|) intersection ever runs.  Division form on purpose:
        # IEEE division is correctly rounded and rounding is monotone,
        # so a true ratio >= threshold can never round below the
        # threshold literal (no false negatives at the boundary; a
        # multiply form like min >= t*max has no such guarantee)
        .where(F.expr(f"cast(least(na, nb) as double) / greatest(na, nb) >= {threshold}"))
        # OPTIMIZER FENCE (r9, guide §4.4's duplication trap applied to
        # a JVM expression): as a plain deterministic column, Catalyst
        # substitutes the n_common projection into the pushed-down
        # threshold predicate and merges it into the join condition, so
        # the plan evaluates size(array_intersect(sa, sb)) THREE times
        # per candidate — twice in the join condition (numerator and
        # denominator), once more in the output projection
        # (plans/r09/lsh_near_dup_pairs_before.txt node (50), measured
        # ~35% of the refine wall).  The `+ least(0,
        # monotonically_increasing_id())` term is ALWAYS ZERO
        # (monotonically_increasing_id is non-negative by construction:
        # partition id << 33 | record number) so n_common's VALUE is
        # unchanged, but it marks the expression nondeterministic,
        # which forbids Catalyst from duplicating, reordering, or
        # substituting it: the O(|a|+|b|) intersection runs exactly
        # ONCE per length-surviving candidate, materialized as the
        # column the threshold filter and the output both read.
        .withColumn(
            "n_common",
            F.expr(
                "cast(size(array_intersect(sa, sb)) as bigint)"
                " + least(0, monotonically_increasing_id())"
            ),
        )
        .where(
            F.expr(f"cast(n_common as double) / (na + nb - n_common) >= {threshold}")
        )
        .select("doc_a", "doc_b", F.expr(_JACCARD).alias("jaccard"))
    )


def simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the hash is computed once per token ROW
    (tokens_df), not once per bit as in the SQL text's 32-way md5
    expansion (also a giant-expression codegen risk)."""
    rawtoks = tokens_df(docs)
    bit_sums = [
        F.sum(
            F.expr(f"case when (h >> {i}) % 2 = 1 then 1 else -1 end")
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    votes = rawtoks.groupBy("doc_id").agg(*bit_sums)
    sh = " + ".join(
        f"(case when s{i} > 0 then cast({1 << i} as bigint) else cast(0 as bigint) end)"
        for i in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(sh).alias("simhash"))


def simhash_pairs_df(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Banded Hamming equi-join over the persisted simhash stage (same
    pigeonhole shape as simhash_pairs_sql, zero recall loss): the
    32-bit hash splits into max_hamming + 1 bands, then the exact
    bit_count refine."""
    sh = _persist(simhash_df(docs))
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    rows = sh.selectExpr(
        "doc_id",
        "simhash",
        *[f"(simhash >> {b * width}) & {mask} as k{b}" for b in range(n_bands)],
    )
    ham = "bit_count(simhash_a ^ simhash_b)"
    return (
        banded_pairs(
            rows, "doc_id", [f"k{b}" for b in range(n_bands)], "doc_a", "doc_b",
            carry=("simhash",),
        )
        .where(F.expr(f"{ham} <= {max_hamming}"))
        .select("doc_a", "doc_b", F.expr(f"cast({ham} as int)").alias("hamming"))
    )


def _ngram_candidate_estimate(meta: DataFrame) -> int:
    """EXACT candidate-pair count of the (lang, length-band ± 1)
    blocking join, from per-bucket sizes only.  The per-bucket count
    table is bounded by #langs × (length-range / 16) buckets — a few
    hundred rows at any corpus size — so the collect is a stats read,
    not a data read (same discipline as the manifest stats)."""
    sizes = {
        (r["lang"], r["band"]): r["n"]
        for r in meta.groupBy("lang", "band").agg(F.count("*").alias("n")).collect()
    }
    est = 0
    for (lang, band), n in sizes.items():
        est += n * (n - 1) // 2  # same-band pairs
        est += n * sizes.get((lang, band + 1), 0)  # adjacent-band pairs
    return est


def ngram_jaccard_pairs_df(docs: DataFrame, threshold: float = 0.55) -> DataFrame:
    """Same rows as ngram_jaccard_pairs_sql UNDER the candidate gate:
    |Δn_chars| ≤ 16 implies the 16-wide length bands differ by at most
    1, so candidates come from an EQUI-join on (lang, band) with one
    side exploded to band±1 — per-bucket-bounded, unlike the
    4-distinct-value lang-only key of round 1.

    THE GATE (VERDICT r3 wrong #1): bucket CARDINALITY is fixed by the
    length range, so exact candidates grow O(N²/B) — measured exponent
    1.81/decade, ~10 hours for this one query at 100× (BENCH/
    SCALING_SF1.md).  Before building anything, the exact blocking-join
    candidate count is computed from per-bucket sizes (a bounded stats
    collect).  Over ``NGRAM_MAX_CANDIDATES`` the candidates swap to
    MinHash-LSH bands over the SAME distinct-gram sets — the refine
    (and thus every emitted jaccard value) stays exact; only recall
    becomes the banded-LSH guarantee: the 0.29/decade path instead of
    the 1.81 one.

    The 2M cap keeps the refine in the tens-of-seconds range on a
    single node (each candidate costs one O(|a|+|b|) ≈ 400-long array
    intersection): the driver fixtures measure ~3.2k candidates at
    sf0.01 and ~300k at sf0.1 (both exact), while the full sf1
    fixture's ~31M crosses into hours-of-refine territory and swaps."""
    meta = docs.selectExpr(
        "doc_id", "lang", "n_chars", "cast(floor(n_chars / 16) as bigint) as band"
    )
    if _ngram_candidate_estimate(meta) > NGRAM_MAX_CANDIDATES:
        grams = _persist(doc_hash_sets(docs, ngram=3, with_h=True))
        cand = _lsh_band_candidates(grams)
        # the (lang, |Δn_chars| <= 16) blocking is part of the
        # operator's SEMANTICS, not just a candidate pruning: LSH
        # buckets ignore lang/length, so without this residual filter
        # the swap would emit pairs (e.g. same text, different lang
        # label) the exact operator never produces.  With it, emitted
        # pairs are a strict subset of the exact path's (minus banded
        # recall), at the cost of two id joins over the small
        # candidate set.
        ma = meta.selectExpr("doc_id as doc_a", "lang as _la", "n_chars as _ca")
        mb = meta.selectExpr("doc_id as doc_b", "lang as _lb", "n_chars as _cb")
        cand = (
            cand.join(ma, "doc_a")
            .join(mb, "doc_b")
            .where(F.expr("_la = _lb and abs(_ca - _cb) <= 16"))
            .select("doc_a", "doc_b")
        )
        return _jaccard_refine(cand, grams, threshold)
    grams = _persist(doc_hash_sets(docs, ngram=3))
    a = meta.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("n_chars").alias("ca"), "band"
    )
    b = meta.selectExpr(
        "doc_id as doc_b",
        "lang",
        "n_chars as cb",
        "explode(array(band - 1, band, band + 1)) as band",
    )
    cand = (
        a.join(b, ["lang", "band"])
        .where((F.col("doc_a") < F.col("doc_b")) & (F.expr("abs(ca - cb) <= 16")))
        .select("doc_a", "doc_b")
    )
    return _jaccard_refine(cand, grams, threshold)


LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "und", "die", "das", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}


def lang_id_sql(engine: str) -> str:
    """Stopword-vote language ID (n-gram-free heuristic): the language
    with the most stopword hits wins; ties and zero hits → 'und'
    (undetermined).  Deterministic tie-break by language code."""
    if engine == "spark":
        exp = "select doc_id, explode(split(text, ' ')) as tok from documents"
    else:
        exp = "select doc_id, unnest(string_split(text, ' ')) as tok from documents"
    votes = ", ".join(
        f"sum(case when tok in {tuple(words)!r} then 1 else 0 end) as v_{lang}"
        for lang, words in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"v_{l}" for l in langs) + ")"
    pick = "case " + " ".join(
        f"when v_{l} = {best} and {best} > 0 then '{l}'" for l in langs
    ) + " else 'und' end"
    return (
        f"with toks as ({exp}) , votes as ("
        f"select doc_id, {votes} from toks group by doc_id) "
        f"select doc_id, {pick} as lang_pred from votes"
    )

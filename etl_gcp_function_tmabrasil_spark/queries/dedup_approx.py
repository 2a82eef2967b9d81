"""Near-duplicate detection over `documents` (SURVEY.md §2.2 + the
driver's north star: "dedup … each as a queries() entry with an oracle"):

- exact dedup via md5 fingerprint groups,
- n-gram (word 3-shingle) Jaccard pairs with source/lang blocking,
- MinHash + LSH banding (shingle→minhash→band→bucket-join→verify),
- SimHash (32-bit) values + near-pair detection via Hamming distance
  (byte-banded candidate generation, recall-exact at d ≤ 6),
- FastSS fuzzy string matching (deletion-neighborhood banding,
  recall-exact at edit distance ≤ 1) for entity resolution.

Every operator here is expressed with built-in column functions over an
engine-reproducible md5-based hash (``_util.hash60``), so even the
sketch-based paths have exact DuckDB oracle twins.

Scale design: sketches (signatures, band hashes, simhash) are computed
row-local with zero shuffles — higher-order array functions, no explode
of the token stream. The only shuffles are the LSH bucket join (keyed on
band hash — the whole point of LSH is that this key is selective) and
the final verify join on candidate doc_ids. Blocking keys (lang, source)
bound the quadratic verify stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries._util import (
    SPARK_HASH60,
    SQL_HASH60,
    WS_CLASS,
    managed_persist,
)

N_MINHASH = 16  # signature length
N_BANDS = 4  # LSH bands (r = 4 rows/band) → s-curve threshold ~0.55
SIMHASH_BITS = 32
JACCARD_THRESHOLD = 0.5


def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 fingerprint of normalized text:
    keeper (min doc_id) + duplicate count per group with >1 member."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.trim("text"), WS_CLASS, " "))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


_EXACT_SQL = f"""
SELECT md5(regexp_replace(trim(text), '{WS_CLASS}', ' ', 'g')) AS fingerprint,
  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY fingerprint
HAVING COUNT(*) > 1
ORDER BY keeper_doc_id
"""


from etl_gcp_function_tmabrasil_spark.functions.text import word_shingles as _shingles


_SHINGLES_SQL = """
CASE WHEN len(toks) >= 3
     THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
     ELSE [text] END
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, blocked by (lang, source).

    Jaccard over distinct word-3-shingle sets; pairs above threshold.
    The blocking keys bound the pair space; at corpus scale the unblocked
    variant is dedup_minhash_lsh below (LSH *is* the blocking).
    """
    # text IS NOT NULL: Spark's array_distinct keeps a NULL shingle
    # ([NULL] ∩ [NULL] → jaccard 1.0 pairs) while DuckDB's list_distinct
    # strips it (0/0 → NULL → pair dropped) — NULL-text docs are not
    # dedup candidates in either engine
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Project tokens as a real column BEFORE shingling: a split() inlined
    # into the transform() lambda re-evaluates per element (higher-order
    # fns bypass codegen subexpression elimination; measured ~300 splits
    # per doc vs 1).
    with_sh = docs.select(
        "doc_id", "lang", "source", "text", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(_shingles(F.col("toks"))).alias("sh"),
    )
    a, b = with_sh.alias("a"), with_sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_NGRAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang, source,
    list_distinct({_SHINGLES_SQL.strip()}) AS sh
  FROM (SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
        FROM documents) t
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
      >= {JACCARD_THRESHOLD}
ORDER BY doc1, doc2
"""


#: Spark-SQL expression strings (used via F.expr) — NOTE: built as SQL
#: text, not Column lambdas, because PySpark's Python-lambda binding
#: mis-resolves multiple same-shaped transform() lambdas that differ only
#: in a captured literal within one projection (verified empirically:
#: array_min(transform(...)) returned wrong values for ALL seeds when 4+
#: such columns shared a select). expr() parses each lambda independently.
#: The hash template itself lives in _util next to its DuckDB twin.
_SPARK_HASH60 = SPARK_HASH60


#: MinHash via ONE md5 per shingle + affine permutations (a*h+b) mod p.
#: The naive alternative — md5(concat(i, ':', t)) per signature position —
#: costs N_MINHASH md5 calls per shingle (measured ~4x whole-query cost at
#: bench scale); the permutation family needs exactly one. p = 2^31-1
#: (Mersenne); h is reduced mod p first so a*h+b stays well inside int64.
_MINHASH_P = (1 << 31) - 1
#: Deterministic Knuth-style multiplicative constants (no runtime RNG).
_MINHASH_PERMS = [
    ((2654435761 * (i + 1)) % _MINHASH_P or 1, (40503 * (i + 7)) % _MINHASH_P)
    for i in range(N_MINHASH)
]

#: One 32-bit-ish base hash per shingle, pre-reduced mod p.
_SPARK_SHINGLE_HASH = (
    "transform(sh, t -> cast(conv(substring(md5(t),1,8),16,10) as bigint)"
    f" % {_MINHASH_P}L)"
)
_SQL_SHINGLE_HASH = (
    "list_transform(sh, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT"
    f" % {_MINHASH_P})"
)


#: All 16 signature minima in ONE traversal of the shingle-hash array:
#: fold with a 16-wide running-minimum accumulator instead of 16
#: array_min(transform(...)) passes (each of those allocates a fresh
#: array per signature position; measured ~18% faster at bench scale,
#: bit-identical output).
_SIG_ONEPASS = (
    f"aggregate(shh, array_repeat({_MINHASH_P}L, {N_MINHASH}),"
    " (acc, x) -> zip_with(acc, array("
    + ", ".join(f"({a}L * x + {b}L) % {_MINHASH_P}L" for a, b in _MINHASH_PERMS)
    + "), (m, v) -> least(m, v)))"
)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs: 3-shingle → 16 minhashes → 4 bands →
    bucket join → exact-Jaccard verify.

    Scale design: signatures and band hashes are computed row-local (no
    explode of the token stream, no shuffle); candidate generation is an
    equi-join on (band, band_hash) — selective by construction; only
    surviving candidates pay the exact verify. This is the 100 TB dedup
    path; the banding s-curve (r=4, b=4) centers near Jaccard ≈ 0.55.
    """
    # text IS NOT NULL, same rationale as dedup_ngram_jaccard: NULL-text
    # docs would minhash to the all-p signature (least() skips NULLs),
    # collide in every band, and emit jaccard-1.0 pairs the oracle drops
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Repartition before the hash-heavy row-local stage: a small parquet
    # loads as one partition, which would serialize all the md5 work; at
    # cluster scale the scan's natural partitioning already spreads it.
    par = spark.sparkContext.defaultParallelism
    # toks projected first — see dedup_ngram_jaccard's note on lambda
    # re-evaluation of inlined split().
    base = (
        docs.repartition(par, "doc_id")
        .select("doc_id", "text", F.split("text", " ").alias("toks"))
        .select("doc_id", F.array_distinct(_shingles(F.col("toks"))).alias("sh"))
    )
    # Persist signatures: both the band self-join and the verify join
    # re-read them; without this the 16-hash sketch pipeline re-runs once
    # per branch (measured 4x cost at bench scale).
    sigs = managed_persist(
        base.select("doc_id", "sh", F.expr(_SPARK_SHINGLE_HASH).alias("shh"))
        .select("doc_id", "sh", F.expr(_SIG_ONEPASS).alias("sig")),
        "dedup_approx.minhash_sigs",
    )
    r = N_MINHASH // N_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * r + j + 1).cast("string")
                        for j in range(r)
                    ],
                )
            ).alias("bh"),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )
    t1 = sigs.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    t2 = sigs.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        cand.join(t1, "doc1")
        .join(t2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_sql() -> str:
    sig_exprs = ",\n    ".join(
        "list_min(list_transform(shh, x -> ({a} * x + {b}) % {p})) AS s{i}".format(
            a=_MINHASH_PERMS[i][0], b=_MINHASH_PERMS[i][1], p=_MINHASH_P, i=i
        )
        for i in range(N_MINHASH)
    )
    r = N_MINHASH // N_BANDS
    band_rows = "\n  UNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sigs".format(
            b=b, cols=", ".join(f"s{b * r + j}::VARCHAR" for j in range(r))
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL.strip()}) AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents) t0
),
hashed AS (
  SELECT doc_id, sh, {_SQL_SHINGLE_HASH} AS shh FROM base
),
sigs AS (
  SELECT doc_id, sh,
    {sig_exprs}
  FROM hashed
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
)
SELECT doc1, doc2,
  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM cand JOIN base a ON cand.doc1 = a.doc_id
          JOIN base b ON cand.doc2 = b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
      >= {JACCARD_THRESHOLD}
ORDER BY doc1, doc2
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash over the token multiset.

    Each bit b of the fingerprint is the sign of sum(±1) across token
    hashes' bit b. Row-local computation, no shuffle; downstream near-dup
    = small Hamming distance (see dedup_simhash_pairs).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _SPARK_HASH60.format(expr="t")
    # One explode + 32 codegen'd conditional sums beats the obvious
    # 32-`aggregate()`-HOF formulation 0.93 → 0.59 s at sf0.1: lambda
    # HOFs run interpreted (32 array traversals per doc outside
    # whole-stage codegen), while the explode shape keeps every bit
    # count inside codegen and map-side partial aggregation means the
    # shuffle carries ~one 32-int row per doc, not per token.
    # explode_outer: a NULL text must still emit a row (h NULL → every
    # bit sums −1 → simhash 0, matching the SQL oracle's CASE).
    toks = docs.select(
        "doc_id",
        F.expr(f"explode_outer(transform(split(text, ' '), t -> {h}))").alias("h"),
    )
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sim = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return (
        toks.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", sim.cast("long").alias("simhash32"))
    )


def _simhash_sql() -> str:
    h = SQL_HASH60.format(expr="t")
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2**b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> {h}) AS h
  FROM documents
)
SELECT doc_id, {bits} AS simhash32
FROM t ORDER BY doc_id
"""


#: Connected-components round cap: a safety bound far above any real
#: near-dup graph's diameter — the loop exits on convergence and raises
#: (never silently returns wrong labels) if the cap is hit.
_CC_MAX_ROUNDS = 50

SIMHASH_HAMMING_MAX = 6
#: Pigeonhole banding: split the 32-bit fingerprint into 8 bands of 4
#: bits. If two fingerprints differ in EVERY band, their Hamming
#: distance is ≥ 8 > 6 — so every qualifying pair (d ≤ 6, in fact any
#: d ≤ 7) shares at least one exact band. Recall is therefore 1.0 by
#: construction and the banded rewrite is provably output-identical to
#: the blocked-quadratic formulation the oracle states. Band count is
#: the threshold knob: g bands guarantee d ≤ g-1 (a 64-bit fingerprint
#: at d ≤ 6 would band 7 × 9/10 bits).
_SIMHASH_PAIR_BANDS = 8
_SIMHASH_BAND_WIDTH = SIMHASH_BITS // _SIMHASH_PAIR_BANDS


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 6 within
    (lang, source) blocks.

    Candidate generation is a band-keyed equi-join (the MinHash-LSH
    join shape), not the quadratic within-block self-join: each doc
    explodes to 8 (band_id, 4-bit band value) rows; candidates collide
    on (band_id, band_val, lang, source); survivors are exact-verified
    on full Hamming distance and distinct-ed. Same output (see band
    pigeonhole note above), but the join fan-out is per-band bucket
    size, not block², so the shape survives blocks of millions of docs.
    """
    sims = dedup_simhash(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    s = sims.join(docs, "doc_id").select("doc_id", "lang", "source", "simhash32")
    mask = (1 << _SIMHASH_BAND_WIDTH) - 1
    bands = [
        F.shiftrightunsigned(F.col("simhash32"), b * _SIMHASH_BAND_WIDTH)
        .bitwiseAND(F.lit(mask))
        for b in range(_SIMHASH_PAIR_BANDS)
    ]
    bb = s.select(
        "doc_id",
        "lang",
        "source",
        "simhash32",
        F.posexplode(F.array(*bands)).alias("band_id", "band_val"),
    )
    a, b = bb.alias("a"), bb.alias("b")
    hamming = F.bit_count(F.col("a.simhash32").bitwiseXOR(F.col("b.simhash32")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )


def _simhash_pairs_sql() -> str:
    h = SQL_HASH60.format(expr="t")
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2**b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, source,
    list_transform(string_split(text, ' '), t -> {h}) AS h
  FROM documents
),
s AS (SELECT doc_id, lang, source, {bits} AS simhash32 FROM t)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
  CAST(bit_count(xor(a.simhash32, b.simhash32)) AS INT) AS hamming
FROM s a JOIN s b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= {SIMHASH_HAMMING_MAX}
ORDER BY doc1, doc2
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SimHash near-dup pair graph — the
    clustering step a dedup pipeline needs to turn pairwise matches into
    keep-one-per-group decisions. Returns (doc_id, component_id) with
    component_id = min doc_id reachable, ordered by doc_id.

    Implementation: iterative min-label propagation (the Pregel pattern
    as plain DataFrame joins — GraphFrames-free). Each round every node
    takes the min of its own label and its neighbors' labels; converges
    in O(component diameter) rounds. `localCheckpoint` cuts lineage per
    round so plans don't grow; the convergence probe is a LIMIT 1 count
    (stops at the first changed row, no full scan). Near-dup components
    have small diameter (near-duplication is ~transitive), so rounds
    stay in single digits; at 100 TB the same loop holds because each
    round is one shuffle join on (node, label) pairs — for adversarial
    long-chain graphs swap in the alternating small-star/large-star
    contraction (same join primitives, O(log n) rounds).
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc1", "doc2")
    edges = (
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
        .union(pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst")))
        .localCheckpoint()  # pair generation runs once, not per round
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
    )
    changed = 1
    for _ in range(_CC_MAX_ROUNDS):
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        # the changed flag rides the SAME left join that computes the
        # new label (r16): new < old ⟺ nbr_min < old, so the old
        # shape's extra new⋈old probe join per round was redundant —
        # the convergence test is now a filter over the already-
        # checkpointed frame (NULL nbr_min ⇒ NULL flag ⇒ filtered out,
        # exactly the no-neighbor no-change case)
        new_labels = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                labels.id,
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
                (F.col("nbr_min") < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        # a silent unconverged return would hand back WRONG component
        # ids (labels not yet the component minimum) — fail loudly; the
        # cap exists only to bound a pathological chain, min-label
        # propagation converges in O(component diameter) rounds
        raise RuntimeError(
            f"dedup_components did not converge in {_CC_MAX_ROUNDS} rounds"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


def _components_sql() -> str:
    pairs = _simhash_pairs_sql()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
FROM reach GROUP BY src ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_fingerprint": dedup_exact_fingerprint,
    "dedup_components": dedup_components,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
}

ORACLE = {
    "dedup_exact_fingerprint": _EXACT_SQL,
    "dedup_components": _components_sql(),
    "dedup_ngram_jaccard": _NGRAM_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
}


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: customer names within edit
    distance 1, generated by FastSS deletion-neighborhood banding and
    exact-verified with levenshtein.

    Pigeonhole guarantee (FastSS with position annotation): an edit
    distance ≤ 1 pair is exactly one of (a) a SUBSTITUTION at position
    p of two equal-length strings — then deleting p from BOTH yields
    the same string at the same position, so they share a (pos,
    variant) key; or (b) a DELETION/INSERTION — then some variant of
    the longer equals the shorter string itself. Candidate generation
    is therefore two equi-joins — variants⨝variants on (pos, v) and
    variants⨝names on v = name — with recall 1.0, and the levenshtein
    verify makes the output provably identical to the quadratic
    formulation the oracle states.

    Cost model: keying the substitution leg on (pos, v) — not v alone —
    bounds a bucket to names differing only at that one position
    (≤ alphabet size), where the bare-variant key collapses entire
    repeated-character runs AND distance-2 "shift" pairs into shared
    buckets. On zero-padded sequential identifiers (this table, the
    adversarial case) that is the difference between Σ|b|² of
    ~alphabet²·buckets and a near-quadratic blowup through the common
    prefixes (measured 20× at sf0.1). AQE skew-join splitting handles
    residual hot keys.

    Dedup-free by construction: a substitution pair differs at exactly
    one position p, and deleting q ≠ p preserves the difference — so
    the pair lands in exactly ONE (pos, v) bucket. Output is DISTINCT
    name pairs (mirrored by the oracle's SELECT DISTINCT): duplicate
    c_name rows would otherwise emit the same pair once per copy from
    every bucket the copies share, and a repeated-character run's
    deletions collapse to one indel variant — a single distinct over
    the (small) candidate pair set settles both, and equal-name
    self-pairs are filtered to match the oracle's strict `<` join.

    Physical shape: the substitution leg is a single shuffle — groupBy
    (pos, v) + collect_list (bucket size ≤ alphabet, so the array agg
    is bounded) — followed by a row-local pair expansion, instead of a
    self-join that shuffles or broadcasts the variant table twice and
    probes it single-threaded behind a one-file scan. The variant
    expression is explode(sequence) + substring/concat — whole-stage-
    codegen builtins, not an interpreted transform() lambda. Measured
    at sf0.1: 11.9 s (bare-variant self-join) → 1.7 s.
    """
    cust = load_table(spark, sf_dir, "customer", rebalance=True).select("c_name")
    return (
        _fastss_name_pairs(cust)
        .withColumn("dist", F.levenshtein("name1", "name2"))
        .filter(F.col("dist") <= 1)
    )


def _fastss_name_pairs(cust: DataFrame) -> DataFrame:
    """FastSS deletion-neighborhood candidate pairs over (c_name) —
    the blocking stage shared by fuzzy_name_match and the
    Fellegi-Sunter linkage scorer (same pigeonhole recall-1 guarantee
    and (pos, v) bucket-cost analysis as documented above)."""
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    # persisted (r15): BOTH legs consume the variant expansion — the
    # substitution buckets and the indel equi-join — and without the
    # persist the explode(sequence) + substring/concat pipeline (the
    # expensive row-local pass, |name| variants per name) executed
    # once per leg.
    variants = managed_persist(
        cust.select(
            "c_name",
            F.explode(F.expr("sequence(1, length(c_name))")).alias("pos"),
        ).select(
            "c_name",
            "pos",
            F.expr(
                "concat(substring(c_name, 1, pos - 1),"
                " substring(c_name, pos + 1, length(c_name)))"
            ).alias("v"),
        ),
        "dedup_approx.fastss_variants",
    )
    buckets = (
        variants.groupBy("pos", "v")
        .agg(F.collect_list("c_name").alias("ns"))
        .filter(F.size("ns") > 1)
    )
    substitutions = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ns)-2), i ->"
                " transform(slice(ns, i+2, size(ns)-i-1), b ->"
                " struct(least(ns[i], b) as name1,"
                " greatest(ns[i], b) as name2))))"
            )
        ).alias("p")
    ).select("p.name1", "p.name2").filter(F.col("name1") != F.col("name2"))
    indels = (
        variants.join(
            cust.select(F.col("c_name").alias("other")),
            F.col("v") == F.col("other"),
        )
        .filter(F.col("c_name") != F.col("other"))
        .select(
            F.least("c_name", "other").alias("name1"),
            F.greatest("c_name", "other").alias("name2"),
        )
    )
    return substitutions.unionByName(indels).distinct()


_FUZZY_SQL = """
WITH n AS (SELECT c_name FROM customer)
SELECT DISTINCT x.c_name AS name1, y.c_name AS name2,
  CAST(levenshtein(x.c_name, y.c_name) AS INT) AS dist
FROM n x JOIN n y ON x.c_name < y.c_name
WHERE levenshtein(x.c_name, y.c_name) <= 1
ORDER BY name1, name2
"""

QUERIES["fuzzy_name_match"] = fuzzy_name_match
ORACLE["fuzzy_name_match"] = _FUZZY_SQL


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the SimHash near-dup graph — the graph-centrality
    pass that ranks "hub" documents inside duplication clusters (a
    keep-the-canonical heuristic beyond min-doc_id). Undirected edges
    from dedup_simhash_pairs, 3 power iterations from rank 1.

    Exactness: per-edge contributions are rounded to 9 dp and summed as
    decimals, so every iteration is bit-identical across engines and
    partitionings — this is how an iterative float algorithm earns an
    exact SQL oracle (unrolled to the same fixed iteration count).
    Scale notes: one adjacency⨝rank equi-join + per-dst partial agg per
    iteration (the Pregel shape, like dedup_components); the
    degree-annotated adjacency list is built once and persisted, so the
    expensive pair generation runs exactly once. The FIXED 3-iteration
    unroll keeps lineage bounded, so the whole query stays one LAZY
    plan — no checkpoint needed (PySpark 4's localCheckpoint
    materializes at construction time even with eager=False, which
    both serializes the loop against the driver and hides the work
    from any post-construction timer). Unbounded-iteration loops
    (dedup_components) still checkpoint per round to cut lineage —
    that is the correct trade when the iteration count is data-driven.
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc1", "doc2")
    # edges persisted too: deg and adj BOTH materialize from it, and
    # without the cache the adj build re-runs the whole simhash pair
    # job a second time (deg's materialization filled nothing adj's
    # lineage could reuse) — measured ~10% of query time at sf0.1
    edges = managed_persist(
        pairs.select(
            F.col("doc1").alias("src"), F.col("doc2").alias("dst")
        ).unionByName(
            pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst"))
        ),
        "dedup_approx.pagerank_edges",
    )
    # deg is persisted as well as adj: the rank seed below reads the
    # cached node-count-sized degree table — seeding from deg's own
    # uncached lineage would re-run the whole simhash pair job, and
    # seeding from the cached adj would shuffle the edge-sized frame
    # through a dropDuplicates (both measured slower at sf0.1)
    deg = managed_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        "dedup_approx.pagerank_deg",
    )
    adj = managed_persist(edges.join(deg, "src"), "dedup_approx.pagerank_adj")
    ranks = deg.select(F.col("src").alias("doc_id"), F.lit(1.0).alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            adj.join(ranks.select(F.col("doc_id").alias("src"), "rank"), "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("deg"), 9)
                .cast("decimal(20,9)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = contrib.select(
            F.col("dst").alias("doc_id"),
            (
                F.lit(1.0 - PAGERANK_DAMPING)
                + F.lit(PAGERANK_DAMPING) * F.col("in_mass").cast("double")
            ).alias("rank"),
        )
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


def _pagerank_sql() -> str:
    pairs = _simhash_pairs_sql()
    it = """
r{n} AS (
  SELECT dst AS doc_id,
    {base} + {d} * CAST(SUM(CAST(ROUND(r.rank / deg.deg, 9)
                               AS DECIMAL(20,9))) AS DOUBLE) AS rank
  FROM edges
  JOIN r{p} r ON edges.src = r.doc_id
  JOIN deg ON edges.src = deg.src
  GROUP BY dst
)"""
    base = 1.0 - PAGERANK_DAMPING
    iters = ",".join(
        it.format(n=i + 1, p=i, base=base, d=PAGERANK_DAMPING)
        for i in range(PAGERANK_ITERS)
    )
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION ALL
  SELECT doc2 AS src, doc1 AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS doc_id, 1.0 AS rank FROM deg),
{iters}
SELECT doc_id, ROUND(rank, 6) AS rank FROM r{PAGERANK_ITERS} ORDER BY doc_id
"""


QUERIES["pagerank_dedup_graph"] = pagerank_dedup_graph
ORACLE["pagerank_dedup_graph"] = _pagerank_sql()


def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END of the dedup pipeline: keep ONE canonical document per
    near-dup cluster, chosen by quality. Composes the stack this module
    builds — SimHash pair graph → connected components → quality-argmax
    representative (ties broken by min doc_id) — with docs outside any
    component kept as their own singleton cluster. This is the decision
    step that turns pairwise similarity into an actual training-corpus
    membership list.

    Scale shape: components are bounded (near-dup clusters are small);
    the quality score is row-local; representative selection is a
    single window pass (row_number over component_id) feeding a
    conditional agg ON THE SAME KEY — the groupBy reuses the window's
    hash partitioning, so the whole keep-decision costs exactly ONE
    shuffle on component_id beyond the component computation itself
    (verified: one `hashpartitioning(component_id)` exchange in the
    plan). The window cannot use WindowGroupLimit because n_members
    needs every row, not just rn=1 — a two-branch rewrite (top-1 +
    separate count, then join) would trade the full-group window for
    an extra join shuffle; at near-dup cluster sizes (small, bounded)
    the single-pass form wins."""
    from pyspark.sql import Window

    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_quality_score,
    )

    comp = dedup_components(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    members = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
        .join(quality, "doc_id")
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .groupBy("component_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("kept_quality"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("component_id")
    )


def _cluster_representative_sql() -> str:
    # quality comes from text_analysis.QUALITY_SQL_BODY verbatim — one
    # source of truth for the heuristic's oracle twin (code-review r6:
    # an inline copy here could drift from the quality gate unnoticed)
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        QUALITY_SQL_BODY,
    )

    comp = _components_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH comp AS ({comp}),
q AS (
  SELECT doc_id, quality FROM ({QUALITY_SQL_BODY}) qq
),
members AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id, q.quality
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  JOIN q ON q.doc_id = d.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY component_id ORDER BY quality DESC, doc_id ASC) AS rn
  FROM members
)
SELECT component_id,
  MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
  MAX(CASE WHEN rn = 1 THEN quality END) AS kept_quality,
  COUNT(*) AS n_members
FROM ranked
GROUP BY component_id
ORDER BY component_id
"""


QUERIES["dedup_cluster_representative"] = dedup_cluster_representative
ORACLE["dedup_cluster_representative"] = _cluster_representative_sql()


def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup IMPACT report — the "what would deduplication buy us"
    readout a curation run publishes before committing: the cluster-
    size histogram of the SimHash near-dup components (including the
    singleton mass the component join never sees), rows removable per
    size under keep-one-per-cluster, and each size's share of the
    corpus.

    Scale: composes the existing component machinery (bounded-round
    min-label propagation over pigeonhole-banded candidate pairs) with
    one component-keyed rollup; the histogram is size-distinct-sized
    and the singleton row is corpus-count arithmetic, not a scan of
    non-duplicated docs.
    """
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    # singleton mass from one-row count frames (lazy — no driver-side
    # .count() at construction; both frames broadcast)
    tot = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    in_comp = comp.agg(F.count(F.lit(1)).alias("n_in_comp"))
    singleton = (
        tot.join(F.broadcast(in_comp))
        .select(
            F.lit(1).alias("cluster_size"),
            (F.col("n_total") - F.col("n_in_comp")).alias("n_clusters"),
        )
    )
    report = hist.select(
        F.col("cluster_size").cast("int").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
    ).unionByName(singleton.select(
        F.col("cluster_size").cast("int"),
        F.col("n_clusters").cast("long"),
    ))
    return (
        report.join(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("removable"),
            F.round(
                (F.col("cluster_size") * F.col("n_clusters")).cast("double")
                / F.col("n_total"),
                6,
            ).alias("corpus_share"),
        )
        .orderBy("cluster_size")
    )


def _impact_sql() -> str:
    comp = _components_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH comp AS ({comp}),
sizes AS (SELECT component_id, COUNT(*) AS cluster_size FROM comp
          GROUP BY component_id),
hist AS (SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes
         GROUP BY cluster_size),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
incomp AS (SELECT COUNT(*) AS n FROM comp),
report AS (
  SELECT CAST(cluster_size AS INT) AS cluster_size,
         CAST(n_clusters AS BIGINT) AS n_clusters
  FROM hist
  UNION ALL
  SELECT 1, CAST(tot.n_docs - incomp.n AS BIGINT) FROM tot, incomp
)
SELECT cluster_size, n_clusters,
  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
  CAST((cluster_size - 1) * n_clusters AS BIGINT) AS removable,
  ROUND(CAST(cluster_size * n_clusters AS DOUBLE)
        / (SELECT n_docs FROM tot), 6) AS corpus_share
FROM report ORDER BY cluster_size
"""


QUERIES["dedup_impact_report"] = dedup_impact_report
ORACLE["dedup_impact_report"] = _impact_sql()


SSJOIN_TAU = 0.4  #: Jaccard threshold over word-shingle sets
SSJOIN_W = 3  #: shingle width in words (w-shingling, Broder 1997)


def simjoin_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with PREFIX + POSITIONAL
    FILTERING — the SSJoin/All-Pairs/PPJoin family (Chaudhuri et al.
    ICDE 2006; Bayardo et al. WWW 2007; Xiao et al. WWW 2008): all
    document pairs whose SSJOIN_W-word-shingle sets have Jaccard >=
    SSJOIN_TAU, found without an all-pairs comparison and with NO
    approximation — the exact complement of the MinHash path above
    (LSH trades recall for speed; prefix filtering keeps recall 1.0
    and prunes by necessary conditions instead).

    The prefix principle: order every shingle by a GLOBAL total order
    (rarest-first — document frequency ASC, then shingle id ASC); if
    J(a, b) >= t, then the first |d| - ceil(t*|d|) + 1 shingles of
    each set (under that order) must intersect. Candidates therefore
    come from a prefix-token equi-join (selective, because prefixes
    are the RARE shingles), pruned further by the length filter
    (t * max(|a|,|b|) <= min(|a|,|b|)) and PPJoin's POSITIONAL
    filter: a match at sorted positions (i, j) caps the achievable
    overlap at min(|a| - i, |b| - j) + 1, which must reach the
    overlap bound alpha = ceil(t/(1+t) * (|a|+|b|)) implied by
    J >= t. Exactness is preserved — for any true pair, its FIRST
    common shingle lies inside both prefixes and passes the
    positional test (pinned by the all-pairs brute-force test).

    Shingle width matters for the filter's power: prefixes prune by
    RARITY, so shingles must be discriminative. Bigrams over this
    corpus collapse to ~900 distinct values with near-uniform
    document frequency (~275 at sf0.1) — every pair becomes a
    candidate and the join degenerates toward all-pairs (measured:
    17.4M candidates, 57 s). Trigrams yield a 27k-value vocabulary
    (max df 25) that restores the intended selectivity.

    Dictionary ids, and why they are exact. Every distinct shingle
    gets one long id, ``bucket * 2^32 + dense_rank(shingle)`` inside
    its bucket ``pmod(xxhash64(shingle), 2^31)``: two shingles in
    different buckets differ in the high bits, two in the same bucket
    differ in their rank, so the map is injective — a dictionary
    entry, not a hash, and no collision can merge two shingles (the
    reason the r16 xxhash64-as-token attempt was off the table for
    the verify). The id is a function of the shingle set alone (the
    window is partitioned by bucket and ordered by the unique
    shingle), so every consumer of the per-doc frame — and any
    recomputation of it — sees the same ids without a persist or a
    checkpoint. The same window pass yields the document frequency,
    and ``(df, id)`` is a total order shared by every doc, which is
    all the prefix principle needs; the result set is therefore the
    one the string order gave. Candidate join and verify then run on
    8-byte ids instead of ~20-char strings.

    Suffix-only verify, and why it is exact. Both arrays of a
    candidate pair are sorted in the same global order, so their
    common shingles appear in the same relative order in both; the
    match row with the smallest a-rank also has the smallest b-rank,
    and ``(ra, rb) = (min(a.rk), min(b.rk))`` over the surviving
    match rows is ONE common shingle x. The overlap is then counted
    as ``1 + |a[ra+1:] ∩ b[rb+1:]|``: x plus the common shingles
    after it, never more than the true overlap. For a true pair, x
    is its first common shingle (that one passes the prefix and
    positional filters, as above), no common shingle precedes it,
    and the count is exact. For any other pair the count can only
    undercount, Jaccard is increasing in the overlap, so the pair
    still fails the threshold. The verify intersects only the two
    suffixes.

    Spread over the cores. At this scale every shuffle of the query
    is sub-MB, and AQE coalesces each to one partition, which ran the
    id window and the CPU-heavy verify on one core each. Two exchanges
    therefore fix their width at ``defaultParallelism`` inside the
    query (not a session conf: a session-wide minimum partition size
    moved the other queries by -5% to +7%): the window's hash exchange
    on the bucket, and a range exchange of the candidate pairs on
    (doc_a, doc_b) just before they join back to the id arrays. The
    range exchange also hands the final ORDER BY sorted ranges, so
    while the verify joins broadcast, no second range exchange re-runs
    the verify to sample its bounds. The per-doc gather keeps AQE's
    width: pinning it drops the map-side partial collect_list, so each
    of the exchange's three readers redoes the whole gather (measured:
    more executor CPU for no wall-clock gain). At cluster scale these
    exchanges are wide anyway (many MB, nothing to coalesce),
    defaultParallelism is then the cluster's core count — the order of
    the shuffle width such a cluster is configured with — and both
    keys are hash- or range-balanced by construction, so pinning the
    width gives up no skew handling.

    Scale: shingling and prefix extraction are row-local; the id and
    document frequency come from one window pass partitioned by
    bucket (a word-count-shaped shuffle); the candidate join is keyed
    on rare shingle ids (bounded fan-out by construction); the verify
    joins candidate PAIRS back to the per-doc id arrays on doc_id — a
    plain equi-join Catalyst broadcasts at small scale (AQE) and
    shuffles at large, never a corpus-sized broadcast by
    construction. No stage is quadratic in the corpus.
    """
    # compute spread (r15): the shingling pass below is per-word work
    # over every document — never serialize it behind a one-row-group
    # scan task (no-op on healthy layouts)
    docs = load_table(spark, sf_dir, "documents", rebalance="compute")
    cores = spark.sparkContext.defaultParallelism
    # distinct w-shingles per doc (defensive size guard: a doc shorter
    # than W has no shingles and can never reach the threshold —
    # dropping it is result-equivalent and keeps sequence() from
    # generating a descending range). `ws` is hoisted to a named
    # column: HOF lambda bodies get no common-subexpression
    # elimination, so an inline split re-split the WHOLE text once per
    # shingle position — an O(len²) tokenizer.
    sh = (
        docs.selectExpr("doc_id", "split(text, ' ') AS ws")
        .filter(f"size(ws) >= {SSJOIN_W}")
        .selectExpr(
            "doc_id",
            f"explode(array_distinct(transform(sequence(1, size(ws) - {SSJOIN_W - 1}),"
            f" i -> concat_ws(' ', slice(ws, i, {SSJOIN_W}))))) AS sh",
        )
        .selectExpr("doc_id", "sh", "pmod(xxhash64(sh), 2147483648) AS bucket")
        .repartition(cores, "bucket")
    )
    # The rarest-first rank is per-DOC state bounded by document size,
    # so it folds row-locally: gather each doc's (df, tid) list and
    # sort it. (df, tid) is duplicate-free per doc (shingles are
    # array_distinct'd), so the order — and therefore rk — is
    # deterministic. One frame feeds both the prefix rows and the
    # verify arrays, and AQE reuses its exchange for all three reads.
    per_doc = (
        sh.selectExpr(
            "doc_id",
            "count(1) OVER (PARTITION BY bucket, sh) AS df",
            "bucket * 4294967296"
            " + dense_rank() OVER (PARTITION BY bucket ORDER BY sh) AS tid",
        )
        .groupBy("doc_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(df, tid))), e -> e.tid)")
            .alias("ids")
        )
    )
    prefix = per_doc.selectExpr(
        "doc_id",
        "size(ids) AS sz",
        f"posexplode(slice(ids, 1, cast(size(ids) - ceil({SSJOIN_TAU} * size(ids))"
        " + 1 as int))) AS (pos, tid)",
    ).selectExpr("doc_id", "sz", "tid", "pos + 1 AS rk")
    # Length and positional filters in exact DECIMAL arithmetic (a
    # fractional SQL literal is a decimal): overlap bound >= alpha =
    # ceil(t/(1+t) * (|a|+|b|)) is, for an integer bound, the same as
    # bound * (1+t) >= t * (|a|+|b|). A double t/(1+t) made alpha one
    # too high whenever |a|+|b| is a multiple of 7 and dropped pairs at
    # exactly J = t.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            F.expr(
                "a.tid = b.tid AND a.doc_id < b.doc_id"
                f" AND {SSJOIN_TAU} * greatest(a.sz, b.sz) <= least(a.sz, b.sz)"
                f" AND (least(a.sz - a.rk, b.sz - b.rk) + 1) * (1 + {SSJOIN_TAU})"
                f" >= {SSJOIN_TAU} * (a.sz + b.sz)"
            ),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b", "a.rk", "b.rk AS rk_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("min(rk) AS ra"), F.expr("min(rk_b) AS rb"))
        .repartitionByRange(cores, "doc_a", "doc_b")
    )
    ia = per_doc.selectExpr("doc_id AS doc_a", "ids AS ids_a")
    ib = per_doc.selectExpr("doc_id AS doc_b", "ids AS ids_b")
    verified = (
        cand.join(ia, "doc_a")
        .join(ib, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(1 + size(array_intersect(slice(ids_a, ra + 1, size(ids_a) - ra),"
            " slice(ids_b, rb + 1, size(ids_b) - rb))) AS BIGINT) AS inter",
            "size(ids_a) AS sza",
            "size(ids_b) AS szb",
        )
        .selectExpr(
            "doc_a", "doc_b", "inter", "CAST(inter AS DOUBLE) / (sza + szb - inter) AS jac"
        )
    )
    return (
        verified.filter(F.col("jac") >= SSJOIN_TAU)
        .selectExpr("doc_a", "doc_b", "inter", "round(jac, 6) AS jaccard")
        .orderBy("doc_a", "doc_b")
    )


_SSJOIN_SQL = f"""
WITH t AS (
  SELECT doc_id,
    list_distinct([array_to_string(
                     string_split(text, ' ')[i:i + {SSJOIN_W - 1}], ' ')
                   FOR i IN range(1, len(string_split(text, ' '))
                                     - {SSJOIN_W - 2})])
      AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SSJOIN_W}
),
-- candidate pairs via the inverted index (pairs sharing NO shingle
-- have Jaccard 0 and can never reach tau > 0, so this is
-- result-identical to the all-pairs form — it deliberately uses no
-- prefix/positional/length filtering, staying independent of the
-- Spark implementation's pruning logic, while keeping the sf0.1
-- local sweep off the 12.5M-pair quadratic path (465 s measured)
e AS (SELECT doc_id, unnest(toks) AS sh FROM t),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter,
    len(ta.toks) AS sza, len(tb.toks) AS szb
  FROM cand c
  JOIN t ta ON ta.doc_id = c.doc_a
  JOIN t tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, inter,
  ROUND(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= {SSJOIN_TAU}
ORDER BY doc_a, doc_b
"""

QUERIES["simjoin_prefix_jaccard"] = simjoin_prefix_jaccard
ORACLE["simjoin_prefix_jaccard"] = _SSJOIN_SQL


# --- Winnowing document fingerprints (round 10) -----------------------

WINNOW_K = 20  #: char-gram width (profiled: 8-char grams of this
#: vocabulary hit df 328/500 — the same rarity lesson as the simjoin's
#: bigram degeneracy; 20-char grams reach max df 5, avg 1.08)
WINNOW_W = 8  #: winnowing window (guarantee: any shared substring of
#: length >= WINNOW_K + WINNOW_W - 1 shares a fingerprint)
WINNOW_T = 10  #: shared-fingerprint floor for a reported pair
#: (profiled: planted near-dups share 70-120, background pairs 1-2)
WINNOW_MAXDF = 64  #: fingerprints in more docs are dropped before the
#: pair join — the PPJoin prefix-filter lesson: candidate generation
#: must never key on a common value (no-op on this corpus, max df 5;
#: the guard is for corpora with boilerplate)
_WINNOW_POS_BITS = 20  #: positions pack into the key's low 20 bits —
#: fingerprinting covers the first 2^20-1 grams of a document (a
#: stated bound, applied identically in the oracle)
_WINNOW_POS_MOD = 1 << _WINNOW_POS_BITS


def _winnow_fpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selected (doc_id, fp) winnowing fingerprints after the
    WINNOW_MAXDF stoplist — the shared front of the pair and
    containment queries. Grams explode row-locally, the window min is
    one per-doc sort, and the selection is materialized because BOTH
    the stoplist and every downstream join consume it (ReuseExchange
    does not dedupe the window recompute — the window_global_rownum
    lesson)."""
    k, w = WINNOW_K, WINNOW_W
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= k)
        .select(
            "doc_id",
            "text",
            F.least(
                F.length("text") - k + 1, F.lit(_WINNOW_POS_MOD - 1)
            ).alias("ng"),
        )
    )
    # Keyed compute spread (r15): one md5 per text position makes this
    # the most compute-amplified scan in the registry, and a one-row-
    # group layout would serialize it all in a single task. Hashing the
    # narrow (doc_id, text) rows by doc_id BEFORE the explode both
    # spreads the gram hashing across the cores AND satisfies the
    # window's required distribution, so the per-doc window min no
    # longer shuffles the corpus-amplified GRAM stream (measured at
    # sf0.1: containment 6.5 s → ~2 s; exchange on grams gone from the
    # plan). No-op when the layout already offers >= cores split units.
    from etl_gcp_function_tmabrasil_spark.catalog import scan_spread_n

    n_spread = scan_spread_n(spark, sf_dir, "documents")
    if n_spread:
        docs = docs.repartition(n_spread, "doc_id")
    grams = docs.select(
        "doc_id",
        "ng",
        F.explode(F.sequence(F.lit(1), F.col("ng"))).alias("p"),
        F.expr(
            f"cast(conv(substring(md5(substring(text, p, {k})),1,10),16,10)"
            f" as bigint) * {_WINNOW_POS_MOD}L"
            f" + ({_WINNOW_POS_MOD - 1}L - p)"
        ).alias("key"),
    )
    frame = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(0, w - 1)
    )
    sel = managed_persist(
        grams.withColumn("mk", F.min("key").over(frame))
        .filter(F.col("p") <= F.greatest(F.lit(1), F.col("ng") - (w - 1)))
        .select("doc_id", F.expr(f"mk DIV {_WINNOW_POS_MOD}L").alias("fp"))
        .distinct(),
        "dedup_approx.winnow_sel",
    )
    keep = (
        sel.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAXDF)
        .select("fp")
    )
    # The POST-stoplist frame is persisted as well (r15): every caller
    # consumes it at least twice (both self-join sides; containment
    # additionally for per-doc counts), and each consumption otherwise
    # re-runs the stoplist aggregation + join from the cached
    # selection (measured sf0.1 interleaved min-of-4 on the pairs
    # query: 1.43 s -> 1.27 s min, 1.77 s -> 1.42 s median).
    # Fingerprint density is ~2/(W+1)
    # of grams, so the cached frame is a bounded fraction of corpus
    # size.
    return managed_persist(sel.join(keep, "fp"), "dedup_approx.winnow_fpd")


def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm) and the
    near-dup candidate pairs they induce: hash every WINNOW_K-char
    gram, slide a WINNOW_W-wide window over the gram hashes, keep each
    window's minimum (rightmost on ties), and report doc pairs sharing
    at least WINNOW_T selected fingerprints. Winnowing's guarantee —
    any match of length >= K + W - 1 is caught, and selection density
    is ~2/(W+1) — makes it the fingerprint family for plagiarism/
    boilerplate detection where MinHash's whole-document Jaccard is
    too coarse (MinHash scores global overlap; winnowing localizes
    shared PASSAGES).

    Rightmost-min tie-breaking without argmin-over-frame machinery:
    each gram's sort key packs (hash40 << 20) | (2^20 - 1 - pos), so a
    plain MIN over the frame is min-hash-then-rightmost-position — one
    bigint min, identical in both engines.

    Scale: gram explode and key packing are row-local; the window min
    is one per-doc sort; the pair join keys on SELECTED fingerprints
    (density ~2/(W+1) of grams) with a WINNOW_MAXDF stoplist, so
    candidate generation is a rare-key equi-join, never all-pairs —
    the same shape as the PPJoin/LSH stages.
    """
    fpd = _winnow_fpd(spark, sf_dir)
    a = fpd.alias("a")
    b = fpd.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_T)
        .orderBy("doc_a", "doc_b")
    )


_WINNOW_SQL = f"""
WITH d AS (
  SELECT doc_id, text AS t,
    LEAST(length(text) - {WINNOW_K} + 1, {_WINNOW_POS_MOD - 1}) AS ng
  FROM documents WHERE length(text) >= {WINNOW_K}),
pos AS (SELECT doc_id, t, ng, unnest(generate_series(1, ng)) AS p FROM d),
g AS (
  SELECT doc_id, ng, p,
    (('0x' || substr(md5(substr(t, p, {WINNOW_K})), 1, 10))::BIGINT)
      * {_WINNOW_POS_MOD} + ({_WINNOW_POS_MOD - 1} - p) AS key
  FROM pos),
wmin AS (
  SELECT doc_id, ng, p,
    MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW
                   AND {WINNOW_W - 1} FOLLOWING) AS mk
  FROM g),
sel AS (
  SELECT DISTINCT doc_id, mk // {_WINNOW_POS_MOD} AS fp
  FROM wmin WHERE p <= GREATEST(1, ng - {WINNOW_W - 1})),
keep AS (
  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAXDF}),
fpd AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_T}
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_winnowing_pairs"] = dedup_winnowing_pairs
ORACLE["dedup_winnowing_pairs"] = _WINNOW_SQL


WINNOW_CONTAIN = 0.5  #: containment floor (profiled: the planted
#: subset/near-dup pairs sit >= 0.5 with >= 8 shared fingerprints;
#: background pairs < 0.2)
WINNOW_CONTAIN_MIN_SHARED = 5  #: tiny-doc noise floor on |shared|


def dedup_winnowing_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing CONTAINMENT pairs — the asymmetric detection the
    absolute shared-count threshold misses: a short document quoted
    inside a long one shares few fingerprints in absolute terms but a
    large FRACTION of the smaller side's set. This is what MOSS
    actually reports (match share per submission, not raw counts):
    containment = |shared| / min(|fps_a|, |fps_b|), reported for
    pairs >= WINNOW_CONTAIN with a small absolute floor against
    one-fingerprint coincidences.

    Scale: identical candidate shape to `dedup_winnowing_pairs` (the
    shared `_winnow_fpd` front — rare-key equi-join, never
    all-pairs); the per-doc fingerprint counts are one extra
    vocabulary-shaped rollup broadcast into the pair rows.
    """
    fpd = _winnow_fpd(spark, sf_dir)
    nf = fpd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = fpd.alias("a")
    b = fpd.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = nf.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    nb = nf.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least(F.col("na"), F.col("nb")).cast("double"),
                4,
            ).alias("containment"),
        )
        .filter(
            (F.col("containment") >= WINNOW_CONTAIN)
            & (F.col("n_shared") >= WINNOW_CONTAIN_MIN_SHARED)
        )
        .orderBy("doc_a", "doc_b")
    )


_WINNOW_CONTAIN_SQL = f"""
WITH d AS (
  SELECT doc_id, text AS t,
    LEAST(length(text) - {WINNOW_K} + 1, {_WINNOW_POS_MOD - 1}) AS ng
  FROM documents WHERE length(text) >= {WINNOW_K}),
pos AS (SELECT doc_id, t, ng, unnest(generate_series(1, ng)) AS p FROM d),
g AS (
  SELECT doc_id, ng, p,
    (('0x' || substr(md5(substr(t, p, {WINNOW_K})), 1, 10))::BIGINT)
      * {_WINNOW_POS_MOD} + ({_WINNOW_POS_MOD - 1} - p) AS key
  FROM pos),
wmin AS (
  SELECT doc_id, ng, p,
    MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW
                   AND {WINNOW_W - 1} FOLLOWING) AS mk
  FROM g),
sel AS (
  SELECT DISTINCT doc_id, mk // {_WINNOW_POS_MOD} AS fp
  FROM wmin WHERE p <= GREATEST(1, ng - {WINNOW_W - 1})),
keep AS (
  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAXDF}),
fpd AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keep USING (fp)),
nf AS (SELECT doc_id, COUNT(*) AS n FROM fpd GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_shared,
  ROUND(n_shared / CAST(LEAST(na.n, nb.n) AS DOUBLE), 4) AS containment
FROM pairs
JOIN nf na ON na.doc_id = doc_a
JOIN nf nb ON nb.doc_id = doc_b
WHERE ROUND(n_shared / CAST(LEAST(na.n, nb.n) AS DOUBLE), 4)
      >= {WINNOW_CONTAIN}
  AND n_shared >= {WINNOW_CONTAIN_MIN_SHARED}
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_winnowing_containment"] = dedup_winnowing_containment
ORACLE["dedup_winnowing_containment"] = _WINNOW_CONTAIN_SQL


# --- Sorted-neighborhood blocking (round 12) ---------------------------------

SNM_WINDOW = 4  #: neighbors compared per side in the sorted order
SNM_KEY_LEN = 24  #: chars of the normalized text used as the sort key
SNM_MIN_JACCARD = 0.9  #: emit pairs at/above this token-set Jaccard
#: (p95 of window-pair Jaccard on the shared-vocabulary driver corpus —
#: below it the verify would pass nearly every window pair)


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood Method blocking (Hernández & Stolfo, SIGMOD
    1995) — the third classic candidate generator next to banding
    (MinHash/SimHash) and prefix filtering (PPJoin): sort the corpus by
    a domain key (here the first SNM_KEY_LEN chars of the
    whitespace-normalized lowercased text), slide a window of
    SNM_WINDOW positions, and compare only records that fall within a
    window of each other. Near-duplicates share long prefixes, so they
    sort adjacently; candidates are O(n x w) instead of O(n^2).

    Scale shape: the global sort order is materialized WITHOUT a
    single-task window via the banded-rank decomposition
    (operators/banded_rank.py — the band is a 4-char key prefix,
    monotone in the sort order), and the windowed pairing is an
    EQUI-join: each row joins buckets floor(rank/w) and +1, then the
    |rank difference| <= w filter keeps exactly the window pairs —
    never a cartesian, never a range join. Verification (token-set
    Jaccard) is row-local array math on the w-bounded pairs.

    EXACT oracle: rank ties break on doc_id; Jaccard rounded to 4 dp
    on both engines.
    """
    from etl_gcp_function_tmabrasil_spark.operators.banded_rank import (
        banded_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.regexp_replace(F.trim("text"), WS_CLASS, " ")).alias(
            "norm"
        ),
    )
    keyed = docs.select(
        "doc_id",
        F.substring("norm", 1, SNM_KEY_LEN).alias("k"),
        F.array_distinct(F.split("norm", " ")).alias("toks"),
    ).withColumn("band", F.substring("k", 1, 4))
    ranked = banded_global_rank(
        keyed, "band", [F.col("k"), F.col("doc_id")], rank_col="r"
    ).select(
        "doc_id", "toks", "r", (F.floor((F.col("r") - 1) / SNM_WINDOW)).alias("bkt")
    )
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("r").alias("ra"),
        F.explode(
            F.array(F.col("bkt"), F.col("bkt") + 1)
        ).alias("jb"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("r").alias("rb"),
        F.col("bkt").alias("jb"),
    )
    jac = F.round(
        F.size(F.array_intersect("ta", "tb"))
        / F.size(F.array_union("ta", "tb")),
        4,
    )
    return (
        left.join(right, "jb")
        .filter(
            (F.col("rb") > F.col("ra"))
            & (F.col("rb") - F.col("ra") <= SNM_WINDOW)
        )
        # No pair dedup needed: only the LEFT side explodes (to the
        # two distinct keys bkt, bkt+1) while the right carries its
        # single bucket key, so a (ra, rb) pair matches through at
        # most ONE join key — a distinct() here would dedupe nothing
        # and add a full shuffle (r12 ADVICE; verified by row-count:
        # 1990 pairs with and without at sf0.01).
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= SNM_MIN_JACCARD)
        .orderBy("doc_a", "doc_b")
    )


_SNM_SQL = f"""
WITH n AS (
  SELECT doc_id,
    LOWER(REGEXP_REPLACE(TRIM(text), '{WS_CLASS}', ' ', 'g')) AS norm
  FROM documents
),
keyed AS (
  SELECT doc_id, SUBSTR(norm, 1, {SNM_KEY_LEN}) AS k,
    list_distinct(string_split(norm, ' ')) AS toks
  FROM n
),
ranked AS (
  SELECT doc_id, toks,
    ROW_NUMBER() OVER (ORDER BY k, doc_id) AS r
  FROM keyed
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))), 4)
      AS jaccard
  FROM ranked a JOIN ranked b
    ON b.r > a.r AND b.r - a.r <= {SNM_WINDOW}
)
SELECT doc_a, doc_b, jaccard FROM pairs
WHERE jaccard >= {SNM_MIN_JACCARD}
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_sorted_neighborhood"] = dedup_sorted_neighborhood
ORACLE["dedup_sorted_neighborhood"] = _SNM_SQL


# --- Fellegi-Sunter probabilistic linkage scoring (round 12) -----------------

#: conditional agreement probabilities GIVEN a true match (documented
#: priors — the unlabeled-data convention; EM refinement is the
#: labeled-data extension). u probabilities are ESTIMATED from the
#: data: the exact distinct-pair agreement rate sum(c*(c-1))/(N*(N-1)).
FS_M = {"nation": 0.95, "segment": 0.9, "bal_band": 0.65}
FS_BAL_BAND = 100.0  #: acctbal agreement = same floor(bal/100) band
FS_T_UPPER = 4.0  #: weight >= this -> "match"
FS_T_LOWER = 0.0  #: in [lower, upper) -> "possible" (clerical review)


def link_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969 — the
    decision model behind every production ER system): over the
    FastSS-blocked candidate pairs (names within edit distance 1),
    compare three fields — nation, market segment, and the
    acctbal/100 band — and score each pair with the log-likelihood
    weight sum(log2(m_i/u_i)) over agreeing fields plus
    log2((1-m_i)/(1-u_i)) over disagreeing ones. m_i are documented
    priors (FS_M); u_i — the probability two RANDOM records agree by
    chance — are estimated EXACTLY from the data as the distinct-pair
    agreement rate sum(c*(c-1))/(N*(N-1)) per field. Pairs classify
    into match / possible / non-match at the FS_T thresholds: the
    three-region decision rule is the theorem of the paper.

    Scale: blocking is the shared FastSS machinery (recall-exact at
    edit distance <= 1, cost-bounded buckets); u estimation is one
    value-frequency rollup per field (three tiny aggregates broadcast
    back as literals-via-crossJoin); scoring is row-local arithmetic
    on the blocked pairs. Nothing is quadratic.

    Exactness: u ratios are exact decimals; the only floats are the
    three log2 calls, identical literals on both engines, and the
    final weight is rounded to 4 dp before the threshold compare.
    """
    cust = load_table(spark, sf_dir, "customer", rebalance=True).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / FS_BAL_BAND)).alias("bal_band"),
    )
    pairs = _fastss_name_pairs(cust.select("c_name"))
    a = cust.select(
        F.col("c_name").alias("name1"),
        F.col("c_custkey").alias("key1"),
        F.col("c_nationkey").alias("nat1"),
        F.col("c_mktsegment").alias("seg1"),
        F.col("bal_band").alias("band1"),
    )
    b = cust.select(
        F.col("c_name").alias("name2"),
        F.col("c_custkey").alias("key2"),
        F.col("c_nationkey").alias("nat2"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("bal_band").alias("band2"),
    )

    # One stacked pass estimates all three u's (r15, the RFM/key-skew
    # lesson — never N aggregation funnels for N columns): unpivot the
    # three compared fields row-locally, ONE (field, value) count, one
    # 3-row rollup pivoted to columns. Exact same per-field arithmetic
    # (sum c*(c-1) / (N*(N-1)) over that field's value counts); was 6
    # aggregation subtrees / 3 extra table scans.
    stacked = cust.select(
        F.expr(
            "stack(3, 'nation', cast(c_nationkey as string),"
            " 'segment', c_mktsegment,"
            " 'band', cast(bal_band as string)) as (field, val)"
        )
    )
    per_field = (
        stacked.groupBy("field", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("field")
        .agg(
            (
                F.sum(F.col("c") * (F.col("c") - 1))
                / (F.sum("c") * (F.sum("c") - 1))
            ).alias("u")
        )
    )
    us = per_field.groupBy().agg(
        *[
            F.first(
                F.when(F.col("field") == f, F.col("u")), ignorenulls=True
            ).alias(alias)
            for f, alias in (
                ("nation", "u_nation"),
                ("segment", "u_seg"),
                ("band", "u_band"),
            )
        ]
    )

    def w(agree, m: float, u_col: str):
        return F.when(
            agree, F.log2(F.lit(m) / F.col(u_col))
        ).otherwise(F.log2(F.lit(1.0 - m) / (F.lit(1.0) - F.col(u_col))))

    scored = (
        pairs.join(a, "name1")
        .join(b, "name2")
        .crossJoin(F.broadcast(us))
        .select(
            "key1",
            "key2",
            (F.col("nat1") == F.col("nat2")).cast("int").alias("agree_nation"),
            (F.col("seg1") == F.col("seg2")).cast("int").alias("agree_segment"),
            (F.col("band1") == F.col("band2")).cast("int").alias("agree_bal_band"),
            F.round(
                w(F.col("nat1") == F.col("nat2"), FS_M["nation"], "u_nation")
                + w(F.col("seg1") == F.col("seg2"), FS_M["segment"], "u_seg")
                + w(
                    F.col("band1") == F.col("band2"),
                    FS_M["bal_band"],
                    "u_band",
                ),
                4,
            ).alias("weight"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("weight") >= FS_T_UPPER, F.lit("match"))
            .when(F.col("weight") >= FS_T_LOWER, F.lit("possible"))
            .otherwise(F.lit("non_match")),
        )
    )
    return scored.orderBy("key1", "key2")


_FS_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
    CAST(FLOOR(c_acctbal / {FS_BAL_BAND}) AS BIGINT) AS bal_band
  FROM customer
),
pairs AS (
  SELECT x.c_name AS name1, y.c_name AS name2
  FROM (SELECT c_name FROM cust) x JOIN (SELECT c_name FROM cust) y
    ON x.c_name < y.c_name
  WHERE levenshtein(x.c_name, y.c_name) <= 1
),
un AS (SELECT SUM(c * (c - 1)) / (SUM(c) * (SUM(c) - 1)) AS u FROM
  (SELECT COUNT(*) AS c FROM cust GROUP BY c_nationkey)),
us AS (SELECT SUM(c * (c - 1)) / (SUM(c) * (SUM(c) - 1)) AS u FROM
  (SELECT COUNT(*) AS c FROM cust GROUP BY c_mktsegment)),
ub AS (SELECT SUM(c * (c - 1)) / (SUM(c) * (SUM(c) - 1)) AS u FROM
  (SELECT COUNT(*) AS c FROM cust GROUP BY bal_band)),
scored AS (
  SELECT a.c_custkey AS key1, b.c_custkey AS key2,
    CAST(a.c_nationkey = b.c_nationkey AS INT) AS agree_nation,
    CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS agree_segment,
    CAST(a.bal_band = b.bal_band AS INT) AS agree_bal_band,
    ROUND(
      (CASE WHEN a.c_nationkey = b.c_nationkey
        THEN log2({FS_M["nation"]} / un.u)
        ELSE log2({1.0 - FS_M["nation"]} / (1.0 - un.u)) END)
      + (CASE WHEN a.c_mktsegment = b.c_mktsegment
        THEN log2({FS_M["segment"]} / us.u)
        ELSE log2({1.0 - FS_M["segment"]} / (1.0 - us.u)) END)
      + (CASE WHEN a.bal_band = b.bal_band
        THEN log2({FS_M["bal_band"]} / ub.u)
        ELSE log2({1.0 - FS_M["bal_band"]} / (1.0 - ub.u)) END), 4)
      AS weight
  FROM pairs
  JOIN cust a ON a.c_name = pairs.name1
  JOIN cust b ON b.c_name = pairs.name2
  CROSS JOIN un CROSS JOIN us CROSS JOIN ub
)
SELECT key1, key2, agree_nation, agree_segment, agree_bal_band, weight,
  CASE WHEN weight >= {FS_T_UPPER} THEN 'match'
       WHEN weight >= {FS_T_LOWER} THEN 'possible'
       ELSE 'non_match' END AS verdict
FROM scored ORDER BY key1, key2
"""

QUERIES["link_fellegi_sunter"] = link_fellegi_sunter
ORACLE["link_fellegi_sunter"] = _FS_SQL


# --- Incremental batch-vs-corpus dedup with a bloom prefilter (round 13) -----

BLOOM_M = 4096  #: bloom bit-array width. FIXTURE constant so the oracle
#: computes the identical filter; production sizes m ~ 8 x corpus NDV
#: (the parquet bloom-page rule sinks/snapshot.py applies). Exactness
#: does NOT depend on m: a saturated filter only degrades the prune.


def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — which docs of an arriving BATCH are
    genuinely new vs an existing CORPUS — with a bloom prefilter
    (Bloom 1970; the Delta/Iceberg ingest-dedup pattern): the corpus's
    content fingerprints are summarized as a bit set, each batch doc
    probes its two salted bit positions, and only the docs whose BOTH
    bits are set (possible duplicates, including bloom false
    positives) pay the exact verification join. Definite misses skip
    the join entirely — at 100 TB that is the difference between
    shuffling the whole batch against the corpus and shuffling the
    ~duplicate-rate fraction of it.

    Result is EXACT (the verify join removes every false positive):
    each new doc is emitted with its route — 'bloom_miss' (proven new
    by the filter alone) or 'verified_new' (bloom candidate that the
    exact join cleared). Corpus/batch = the deterministic doc_id%10
    split. The bit set is represented RELATIONALLY (a <= BLOOM_M-row
    table of set positions, broadcast to both probe joins) — the
    filter itself is distributed state, no driver-side bitmap.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim("text"), WS_CLASS, " ")).alias("k"),
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    def pos(salt: str):
        h = SPARK_HASH60.format(expr=f"concat('{salt}#', k)")
        return F.expr(h) % BLOOM_M

    bits = (
        corpus.select(pos("b1").alias("p"))
        .unionAll(corpus.select(pos("b2").alias("p")))
        .distinct()
    )
    probed = (
        batch.select("doc_id", "k", pos("b1").alias("p1"), pos("b2").alias("p2"))
        .join(
            F.broadcast(bits.select(F.col("p").alias("p1"), F.lit(1).alias("h1"))),
            "p1",
            "left",
        )
        .join(
            F.broadcast(bits.select(F.col("p").alias("p2"), F.lit(1).alias("h2"))),
            "p2",
            "left",
        )
    )
    cand = F.col("h1").isNotNull() & F.col("h2").isNotNull()
    misses = probed.filter(~cand).select(
        "doc_id", F.lit("bloom_miss").alias("route")
    )
    verified = (
        probed.filter(cand)
        .join(corpus.select("k"), "k", "left_anti")
        .select("doc_id", F.lit("verified_new").alias("route"))
    )
    return misses.unionByName(verified).orderBy("doc_id")


def _incr_bloom_sql() -> str:
    p1 = SQL_HASH60.format(expr="('b1#' || k)") + f" % {BLOOM_M}"
    p2 = SQL_HASH60.format(expr="('b2#' || k)") + f" % {BLOOM_M}"
    return f"""
WITH n AS (
  SELECT doc_id,
    md5(REGEXP_REPLACE(TRIM(text), '{WS_CLASS}', ' ', 'g')) AS k
  FROM documents
),
corpus AS (SELECT * FROM n WHERE doc_id % 10 <> 0),
batch AS (
  SELECT doc_id, k, {p1} AS p1, {p2} AS p2
  FROM n WHERE doc_id % 10 = 0
),
bits AS (
  SELECT DISTINCT {p1} AS p FROM corpus
  UNION
  SELECT DISTINCT {p2} AS p FROM corpus
),
probed AS (
  -- COALESCE + NOT EXISTS keep the oracle NULL-sound: a NULL text
  -- (k = md5(NULL) = NULL) makes the IN probes NULL and would poison
  -- NOT IN, silently dropping the row from BOTH branches, while the
  -- Spark side's left joins + left_anti route the same row as
  -- bloom_miss / verified_new (r13 ADVICE).
  SELECT b.doc_id, b.k,
    COALESCE(
      b.p1 IN (SELECT p FROM bits) AND b.p2 IN (SELECT p FROM bits),
      FALSE) AS cand
  FROM batch b
)
SELECT doc_id, 'bloom_miss' AS route FROM probed WHERE NOT cand
UNION ALL
SELECT doc_id, 'verified_new' AS route FROM probed p
WHERE cand AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.k = p.k)
ORDER BY doc_id
"""


QUERIES["dedup_incremental_bloom"] = dedup_incremental_bloom
ORACLE["dedup_incremental_bloom"] = _incr_bloom_sql()

"""Document deduplication operators — fully JVM-side (zero Python UDFs).

- exact_dedup: md5-hash groupBy, keep min id per group (one shuffle).
- jaccard_pairs: exact word-set Jaccard over an inverted-index join — the
  classic explode → token-join → |A∩B| / (|A|+|B|-|A∩B|) plan. Scales as the
  sum of squared posting-list lengths; stop-token removal (max_df cap) bounds
  the hot lists.
- minhash_lsh_pairs: 64-permutation MinHash with 16 bands; candidate pairs
  join on (band, band-hash) buckets.
- simhash_signatures / simhash_dedup_pairs: 60-bit SimHash (majority bit vote)
  with pigeonhole chunk blocking derived from SIMHASH_MAX_HAMMING.

Shared-dialect hashing (round-2 redesign): round 1 hashed tokens with a
per-byte Python FNV loop inside pandas UDFs — the one row-at-a-time kernel in
the repo. It is replaced by ``token -> md5 -> first 15 hex chars -> 60-bit
BIGINT`` which evaluates **bit-identically** in Spark SQL
(``CONV(SUBSTRING(MD5(t),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(t),1,15) AS BIGINT)``). Every downstream step
(permutation min-hashing mod a 31-bit prime, bit votes, band md5) is pure
int64 arithmetic, so each query ships an exact SQL oracle — the
``*_oracle_sql`` builders below emit it from the same constants.

Reference parity: near-dup crown/label dedup semantics follow
batch_sam.py:741-765 (keep-best) and the corpus-dedup stage the pipeline
needs at 10^12-doc scale (SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.operators.caching import owned

P31 = (1 << 31) - 1  # modulus for MinHash permutations (31-bit Mersenne prime)
SIMHASH_BITS = 60  # md5-derived hash width that fits BIGINT in both dialects
# shared by the operators and their DuckDB oracles
MINHASH_PERMS = 64
MINHASH_BANDS = 16  # 4 signature rows per band
SIMHASH_MAX_HAMMING = 3  # the simhash_pairs query's bound
# the Jaccard floors of the jaccard_pairs / ngram_jaccard_pairs queries
JACCARD_THRESHOLD = 0.5
NGRAM_JACCARD_THRESHOLD = 0.35
DOCS_SQL = "SELECT doc_id, text FROM documents"

_TOKS_DUCK = (
    "SELECT DISTINCT doc_id, t.tok AS token\n"
    "  FROM __docs__, UNNEST(string_split_regex(lower(text), '\\s+')) AS t(tok)\n"
    "  WHERE t.tok <> ''"
)


def token_hash60(col: Column) -> Column:
    """First 60 bits of md5(token) as a non-negative BIGINT.

    Shared dialect: this Spark expression equals DuckDB's
    ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)`` bit-for-bit.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash60_duck(col: str) -> str:
    return f"CAST('0x' || substr(md5({col}), 1, 15) AS BIGINT)"


def tokens_df(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, token) pairs, whitespace tokenization, lowercased."""
    return (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


def shingles_df(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs: overlapping character 4-grams of the
    lowercased text — pure Catalyst (sequence + transform + explode), no
    Python. Texts shorter than 4 characters yield no shingles."""
    n = 4
    grams = F.expr(
        f"transform(sequence(1, greatest(length(lower(text)) - {n - 1}, 0)), "
        f"i -> substr(lower(text), i, {n}))"
    )
    return (
        docs.select(F.col("doc_id"), F.explode(grams).alias("shingle"))
        .where(F.length("shingle") == n)
        .distinct()
    )


def _self_pairs(
    table: DataFrame, id_col: str, keys: list[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """`table` joined to itself on `keys`, each unordered pair once (id_a <
    id_b): rows (*keys, id_a, <c>_a..., id_b, <c>_b...) for c in carry.

    The one near-dup blocking join: the table is persisted once (r6 — each
    join side otherwise re-ran its whole derivation from the scan, with no
    exchange reuse across the self-join), so callers read it again for
    free; the returned plan reads the cache, so it is kept."""
    with owned() as o:
        table = o.keep(o.persist(table))

    def side(s: str) -> DataFrame:
        return table.select(
            F.col(id_col).alias(f"id_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in carry], *keys
        )

    return side("a").join(side("b"), keys).where(F.col("id_a") < F.col("id_b"))


def _set_jaccard(
    sets: DataFrame, elem: str, threshold: float, max_df: int | None
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard >= threshold) of the distinct (doc_id, elem)
    sets — the inverted-index plan: posting lists drive the self-join and
    |A∩B| / (|A|+|B|-|A∩B|) is computed JVM-side.

    max_df: drop elements appearing in more than max_df sets (stop-token cap)
    — the standard trick that keeps the self-join near-linear. Jaccard is
    then computed over the REDUCED universe (sizes and intersections both
    post-filter), which is the semantics the oracles in __spark_entry__
    mirror."""
    if max_df is not None:
        hot = sets.groupBy(elem).count().where(F.col("count") > max_df).select(elem)
        sets = sets.join(F.broadcast(hot), elem, "left_anti")
    inter = (
        _self_pairs(sets, "doc_id", [elem])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("__sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("__sz", "__sa"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("__sz", "__sb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame, max_df: int | None = None) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with character-4-gram-set Jaccard >=
    NGRAM_JACCARD_THRESHOLD — the shingle-level near-dup detector (robust to
    tokenization differences, the standard n-gram variant of jaccard_pairs).
    Same inverted-index plan: shingle posting lists drive a bucketed
    self-join, max_df caps stop-shingles, Jaccard computed over the
    post-filter shingle universe (mirrored by the SQL oracle)."""
    return _set_jaccard(shingles_df(docs), "shingle", NGRAM_JACCARD_THRESHOLD, max_df)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, keeper_id)."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )


def jaccard_pairs(docs: DataFrame, max_df: int | None = None) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with word-set Jaccard >=
    JACCARD_THRESHOLD; max_df caps stop-tokens (see _set_jaccard)."""
    return _set_jaccard(tokens_df(docs), "token", JACCARD_THRESHOLD, max_df)


def _perm_params() -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) for h_i(x) = (a_i * x + b_i) mod P31.

    a, b < 2^31 and x < 2^31, so a*x + b < 2^62 — exact in int64 in BOTH
    engines (no wraparound, no HUGEINT needed)."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, P31 - 1, MINHASH_PERMS, dtype=np.int64)
    b = rng.integers(0, P31 - 1, MINHASH_PERMS, dtype=np.int64)
    return a, b


def _minhash_agg(docs: DataFrame) -> DataFrame:
    """(doc_id, __m0..__m63) min-hash columns: one shuffle, all JVM codegen."""
    a, b = _perm_params()
    toks = tokens_df(docs).select(
        "doc_id", (token_hash60(F.col("token")) % F.lit(P31)).alias("__h")
    )
    aggs = [
        F.min((F.lit(int(a[i])) * F.col("__h") + F.lit(int(b[i]))) % F.lit(P31)).alias(
            f"__m{i}"
        )
        for i in range(MINHASH_PERMS)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on MinHash signatures.

    rows_per_band = MINHASH_PERMS // MINHASH_BANDS; a pair is a candidate iff some band's
    sub-signature matches exactly — the shuffle key is (band_idx, band_hash),
    so collisions drive the join, never the cross product. The signature is an
    aggregate output (not a UDF), so band extraction re-reads agg columns
    instead of re-running any kernel — no checkpoint needed."""
    rows = MINHASH_PERMS // MINHASH_BANDS
    sig = _minhash_agg(docs)
    band_exprs = [
        F.md5(F.concat_ws(",", *[F.col(f"__m{bi * rows + j}") for j in range(rows)]))
        for bi in range(MINHASH_BANDS)
    ]
    banded = sig.select(
        F.col("doc_id"),
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_hash"),
    )
    return (
        _self_pairs(banded, "doc_id", ["band_idx", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs_oracle_sql() -> str:
    """DuckDB twin of minhash_lsh_pairs — same constants, same arithmetic."""
    a, b = _perm_params()
    rows = MINHASH_PERMS // MINHASH_BANDS
    mins = ",\n       ".join(
        f"MIN(({int(a[i])} * h + {int(b[i])}) % {P31}) AS m{i}" for i in range(MINHASH_PERMS)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS band_idx, md5(concat_ws(','"
        + "".join(f", m{bi * rows + j}" for j in range(rows))
        + ")) AS band_hash FROM sig"
        for bi in range(MINHASH_BANDS)
    )
    return f"""
WITH __docs__ AS ({DOCS_SQL}),
toks AS ({_TOKS_DUCK}),
hs AS (SELECT doc_id, {_hash60_duck('token')} % {P31} AS h FROM toks),
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash by majority bit vote over token hashes.

    All JVM: per-bit vote sums are 60 aggregate expressions over the exploded
    token stream (map-side partial aggregation keeps the shuffle at one 60-long
    row per doc per mapper), then the hash assembles as Σ 2^i·[vote_i > 0].
    60 bits keeps every intermediate positive int64 in both dialects."""
    toks = tokens_df(docs).select("doc_id", token_hash60(F.col("token")).alias("__h"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"__v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(SIMHASH_BITS)
        ],
    )
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def _simhash_chunks() -> list[tuple[int, int]]:
    """(offset, width) chunk layout: SIMHASH_MAX_HAMMING+1 chunks over
    SIMHASH_BITS.

    Pigeonhole: a pair differing in <= SIMHASH_MAX_HAMMING bits leaves at
    least one of the chunks untouched — the recall guarantee round 1 violated
    by fixing 4 chunks regardless of the bound (VERDICT.md "What's wrong" 1).
    """
    n_chunks = SIMHASH_MAX_HAMMING + 1
    base, rem = divmod(SIMHASH_BITS, n_chunks)
    layout = []
    off = 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_dedup_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= SIMHASH_MAX_HAMMING —
    EXACT recall: blocked on SIMHASH_MAX_HAMMING+1 chunks (pigeonhole),
    refined by bit_count(xor) JVM-side. Output: (id_a, id_b, hamming:int)."""
    layout = _simhash_chunks()
    chunk_exprs = [
        F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in layout
    ]
    chunks = simhash_signatures(docs).select(
        "doc_id",
        F.col("simhash").alias("sh"),
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    pairs = (
        _self_pairs(chunks, "doc_id", ["chunk_idx", "chunk"], carry=("sh",))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    return pairs.select("id_a", "id_b", "hamming")


def simhash_signature_duck_cte() -> str:
    """DuckDB CTE chain ending in ``sig(doc_id, s)`` — the SimHash twin."""
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH __docs__ AS ({DOCS_SQL}),
toks AS ({_TOKS_DUCK}),
hs AS (SELECT doc_id, {_hash60_duck('token')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({assemble} AS BIGINT) AS s FROM votes)
"""


def simhash_pairs_oracle_sql() -> str:
    """Brute-force DuckDB twin: EVERY pair with hamming <= SIMHASH_MAX_HAMMING —
    so a green oracle row also certifies the engine's pigeonhole blocking
    recall."""
    return simhash_signature_duck_cte() + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {SIMHASH_MAX_HAMMING}
"""

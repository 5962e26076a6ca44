"""Text/dedup/similarity operators: numpy-oracle parity for the LSH family.

The hash families are JVM-side (shared-dialect md5-derived hashing); these
tests rebuild the same arithmetic in plain Python/numpy and assert parity,
plus the recall guarantees the blocking schemes advertise.
"""

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotreehealth_spark.text import dedup as tdedup
from geotreehealth_spark.text import similarity
from geotreehealth_spark.text.dedup import MINHASH_PERMS, P31, SIMHASH_BITS, _perm_params
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def py_hash60(token: str) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)


def py_minhash(text: str) -> list[int]:
    a, b = _perm_params()
    toks = sorted({w for w in text.lower().split() if w})
    h = np.array([py_hash60(t) % P31 for t in toks], dtype=np.int64)
    sig = (a[:, None] * h[None, :] + b[:, None]) % P31
    return sig.min(axis=1).tolist()


def py_simhash(text: str) -> int:
    toks = sorted({w for w in text.lower().split() if w})
    votes = np.zeros(SIMHASH_BITS, dtype=np.int64)
    for t in toks:
        h = py_hash60(t)
        for i in range(SIMHASH_BITS):
            votes[i] += 1 if (h >> i) & 1 else -1
    return int(sum(1 << i for i in range(SIMHASH_BITS) if votes[i] > 0))


def test_minhash_matches_oracle_and_estimates_jaccard(spark, docs):
    sigs = tdedup._minhash_agg(docs.limit(50)).toPandas().set_index("doc_id")
    texts = docs.limit(50).toPandas().set_index("doc_id").text
    for doc_id, row in sigs.iterrows():
        assert [row[f"__m{i}"] for i in range(MINHASH_PERMS)] == py_minhash(texts[doc_id])
    # signature agreement ~ true word-set jaccard
    t = texts.iloc[0], texts.iloc[1]
    s0, s1 = py_minhash(t[0]), py_minhash(t[1])
    est = np.mean(np.array(s0) == np.array(s1))
    a, b = set(t[0].lower().split()), set(t[1].lower().split())
    true_j = len(a & b) / len(a | b)
    assert abs(est - true_j) < 0.25


def test_minhash_lsh_recall(spark, docs, monkeypatch):
    """LSH candidates must contain every pair above the band threshold."""
    pairs = tdedup.minhash_lsh_pairs(docs).toPandas()
    cand = set(zip(pairs.id_a, pairs.id_b))
    monkeypatch.setattr(tdedup, "JACCARD_THRESHOLD", 0.9)
    exact = tdedup.jaccard_pairs(docs).toPandas()
    for ia, ib in zip(exact.id_a, exact.id_b):
        assert (ia, ib) in cand, f"high-jaccard pair ({ia},{ib}) missed by LSH"


def test_simhash_matches_python_oracle(spark, docs):
    sh = tdedup.simhash_signatures(docs.limit(40)).toPandas()
    texts = docs.limit(40).toPandas().set_index("doc_id").text
    for row in sh.itertuples():
        assert int(row.simhash) == py_simhash(texts[row.doc_id])
    assert sh.simhash.nunique() > 35  # near-unique for distinct word-soup docs


def test_simhash_pairs_exact_recall(spark, docs):
    """Blocked pairs == brute-force hamming <= h pairs (pigeonhole recall)."""
    sub = docs.limit(120)
    got = tdedup.simhash_dedup_pairs(sub).toPandas()
    sh = tdedup.simhash_signatures(sub).toPandas()
    sigs = dict(zip(sh.doc_id, sh.simhash))
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(int(sigs[a]) ^ int(sigs[b])).count("1") <= tdedup.SIMHASH_MAX_HAMMING
    }
    assert set(zip(got.id_a, got.id_b)) == brute


def test_simhash_identical_texts(spark, monkeypatch):
    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id int, text string",
    )
    monkeypatch.setattr(tdedup, "SIMHASH_MAX_HAMMING", 0)
    out = tdedup.simhash_dedup_pairs(two).toPandas()
    assert len(out) == 1 and out.hamming[0] == 0


def test_cosine_topk_exact(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 3)
    monkeypatch.setattr(similarity, "ANN_K", 5)
    got = similarity.cosine_topk(emb, probes).toPandas()
    pdf = emb.toPandas()
    M = np.asarray(pdf.embedding.tolist(), dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf.vec_id.to_numpy()
    for p in range(3):
        sims = Mn @ Mn[list(ids).index(p)]
        order = sorted(
            [(s, i) for s, i in zip(sims, ids) if i != p], key=lambda t: (-t[0], t[1])
        )[:5]
        expect = [i for _, i in order]
        mine = got[got.probe_id == p].sort_values("rank").neighbor_id.tolist()
        assert mine == expect


def test_rp_lsh_buckets_match_numpy(spark):
    """Engine bucket bits == numpy sign bits from the same plane constants."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(30)
    planes = similarity.rp_planes(64, n_tables=3, n_planes=5)
    got = similarity._bucketed(emb, planes, "id").toPandas()
    pdf = emb.toPandas()
    M = np.asarray(pdf.embedding.tolist(), dtype=np.float64)
    for t in range(3):
        expect = ((M @ planes[t].T) >= 0) @ (1 << np.arange(5))
        sub = got[got.table_idx == t].set_index("id").bucket
        for vid, e in zip(pdf.vec_id, expect):
            assert int(sub[vid]) == int(e)


def test_ann_lsh_topk_subset_of_exact(spark, monkeypatch):
    """ANN results are exact top-k of the candidate set: every returned
    neighbor's sim is correct and ranks are consistent."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 2)
    monkeypatch.setattr(similarity, "ANN_K", 5)
    got = similarity.ann_lsh_topk(emb, probes).toPandas()
    pdf = emb.toPandas().set_index("vec_id")
    for row in got.itertuples():
        a = np.asarray(pdf.loc[row.probe_id].embedding, dtype=np.float64)
        b = np.asarray(pdf.loc[row.neighbor_id].embedding, dtype=np.float64)
        ref = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(ref - row.sim) < 1e-9
    for pid, grp in got.groupby("probe_id"):
        s = grp.sort_values("rank").sim.to_numpy()
        assert (np.diff(s) <= 1e-12).all()


_SET_CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumped over the lazy dog",
    "a quick brown fox jumps over a lazy cat",
    "lorem ipsum dolor sit amet",
    "lorem ipsum dolor sit amet consectetur",
    "Lorem  IPSUM dolor\tsit",
    "the the the",
    "fox",
    "",
    "   ",
    "completely unrelated words here",
    "the lazy dog sleeps over the quick fox",
]


def _brute_set_jaccard(sets: dict, threshold: float, max_df):
    """All-pairs Jaccard of the id -> element-set map, post max_df cap."""
    if max_df is not None:
        df = {}
        for s in sets.values():
            for e in s:
                df[e] = df.get(e, 0) + 1
        sets = {i: {e for e in s if df[e] <= max_df} for i, s in sets.items()}
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter and inter / (len(sets[a]) + len(sets[b]) - inter) >= threshold:
                out[(a, b)] = inter / (len(sets[a]) + len(sets[b]) - inter)
    return out


@pytest.mark.parametrize("max_df", [None, 3])
def test_set_jaccard_matches_brute_force(spark, monkeypatch, max_df):
    """jaccard_pairs (word sets) and ngram_jaccard_pairs (character 4-gram
    sets) equal an all-pairs Python Jaccard exactly, with and without the
    stop-element cap."""
    rows = [(f"d{i:02d}", t) for i, t in enumerate(_SET_CORPUS)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    words = {i: set(t.lower().split()) for i, t in rows}
    grams = {i: {t.lower()[j:j + 4] for j in range(len(t) - 3)} for i, t in rows}
    monkeypatch.setattr(tdedup, "JACCARD_THRESHOLD", 0.3)
    monkeypatch.setattr(tdedup, "NGRAM_JACCARD_THRESHOLD", 0.25)
    for got, sets, threshold in (
        (tdedup.jaccard_pairs(docs, max_df=max_df), words, 0.3),
        (tdedup.ngram_jaccard_pairs(docs, max_df=max_df), grams, 0.25),
    ):
        expect = _brute_set_jaccard(sets, threshold, max_df)
        assert expect, "corpus must produce pairs"
        assert {(r.id_a, r.id_b): r.jaccard for r in got.collect()} == expect

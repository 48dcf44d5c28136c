"""URL-seen membership: exact table (authoritative) + per-bucket pre-filter.

Reference analog: distinct `warc_record_id` accounting
(countConversionRecordsInRandomWETPaths.scala:266-267) and the wetpaths
started/finished state; the north rule upgrades this to per-partition
Bloom/cuckoo URL-seen filters.

Determinism contract (SURVEY.md §7.4): false positives depend on filter
layout, so a filter is ONLY a pre-filter; the verified unseen set always
comes from an exact anti-join against the seen table. Bucketing is by
`pmod(url_hash, n_buckets)` with a FIXED n_buckets — independent of
executor count — so filter bytes are stable across parallelism levels and
can be checkpointed/resumed as data.

One interface, two flavors. A `SeenFilter` flavor supplies only four
per-bucket numpy kernels over the bucket's url hashes:

  build(hashes, geometry) -> state row     one bucket from scratch
  add(row, hashes)        -> state row     insert into a stored bucket
  probe(entry, hashes)    -> bool mask     maybe-seen answers
  health(row)             -> (lost items, needs rebuild, rebuild geometry)

This module runs everything around them, once for every flavor: the
bucketing, the per-bucket applyInPandas build, the cogroup that applies a
round's new hashes to the stored rows, the collect → broadcast → mapInPandas
probe, the health check and the probe-and-split before the exact join.
`BLOOM` lives here (OR-able bit arrays, double hashing); `CUCKOO`
(deletable (2,4)-cuckoo tables) lives in operators/cuckoo.py. The crawl
engine holds one `SeenFilter` from `seen_filter(...)` and never sees the
flavor.

Scale shape (10^10 URLs):

  * The filter bytes travel to executors via ONE `sc.broadcast` (torrent
    broadcast on a real cluster), captured by the probe closure — never as
    a join column, which would replicate the per-bucket byte blob into the
    Arrow exchange once per candidate row (terabytes at design scale).
  * The probe output is persisted by `filter_unseen_flagged` so the single
    mapInPandas pass feeds both the definitely-new branch and the
    exact-verify branch (the caller unpersists the returned handle).
  * Maintenance is INCREMENTAL: `SeenFilter.add` cogroups the stored
    per-bucket rows with the round's new hashes only — O(new URLs + filter
    bytes) per round, never O(|seen|). A stored bucket keeps its geometry;
    a bucket with no stored row is built at the configured one. After
    every add the engine reads the n_buckets state rows (no blobs) through
    `SeenFilter.health` and, when any bucket is unhealthy, rebuilds from
    the seen table at the largest geometry any bucket asks for — surfaced
    in round metrics as `seen_filter_rebuilt` / `seen_filter_evicted`.
    Bloom saturation (n_items · BLOOM_BITS_PER_ITEM > n_bits) only raises
    the FP rate; a cuckoo eviction is a false negative, so that check is a
    correctness guard.
  * The exact anti-join is a shuffle on an 8-byte key over only the
    maybe-seen slice of the candidate set (bounded per round).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel


@dataclass(frozen=True)
class SeenFilter:
    """A URL-seen pre-filter flavor bound to its bucketing.

    `schema` is the per-bucket state row: `bucket` first, the blob last.
    `probe_cols` are the columns `collect` ships to the probe, geometry
    column first. `geometry` is the per-bucket geometry of a fresh build
    (None lets the flavor size each bucket from its item count)."""

    table: str  # flavor name and store table
    schema: T.StructType
    probe_cols: tuple[str, ...]
    build_bucket: Callable[[np.ndarray, int | None], dict]
    add_bucket: Callable[[dict, np.ndarray], dict]
    probe_bucket: Callable[[tuple, np.ndarray], np.ndarray]
    health_bucket: Callable[[dict], tuple[int, bool, int]]
    n_buckets: int = 64
    geometry: int | None = None
    hash_col: str = "url_hash"

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.pmod(F.col(self.hash_col), F.lit(self.n_buckets)).cast("int").alias("bucket"),
            F.col(self.hash_col).alias("__h"),
        )

    def _frame(self, bucket, row: dict | None) -> pd.DataFrame:
        rows = [] if row is None else [{"bucket": int(bucket), **row}]
        return pd.DataFrame(rows, columns=self.schema.fieldNames())

    def build(self, seen: DataFrame, geometry: int | None = None) -> DataFrame:
        """One state row per non-empty bucket of `seen`, built with
        applyInPandas (per-group vectorized numpy; the group is the
        partition-state unit) at `geometry` (default: `self.geometry`)."""
        g = self.geometry if geometry is None else geometry
        build_bucket, frame = self.build_bucket, self._frame

        def make(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return frame(key[0], build_bucket(pdf["__h"].to_numpy(), g))

        return self._bucketed(seen).groupBy("bucket").applyInPandas(make, self.schema)

    def update(
        self,
        state: DataFrame,
        hashes: DataFrame,
        fn: Callable[[dict | None, np.ndarray], dict | None],
    ) -> DataFrame:
        """Cogroup the stored rows with `hashes` per bucket and replace each
        row by `fn(row or None, bucket hashes)`; None drops the bucket."""
        frame = self._frame

        def apply(key: tuple, srow: pd.DataFrame, hpdf: pd.DataFrame) -> pd.DataFrame:
            hs = hpdf["__h"].to_numpy() if len(hpdf) else np.array([], dtype=np.int64)
            row = None if srow.empty else srow.drop(columns="bucket").iloc[0].to_dict()
            return frame(key[0], fn(row, hs))

        return (
            state.groupBy("bucket")
            .cogroup(self._bucketed(hashes).groupBy("bucket"))
            .applyInPandas(apply, self.schema)
        )

    def add(self, state: DataFrame, additions: DataFrame) -> DataFrame:
        """Insert `additions` into the stored state (incremental
        maintenance); buckets without a stored row are built fresh."""
        build_bucket, add_bucket, g = self.build_bucket, self.add_bucket, self.geometry
        return self.update(
            state,
            additions,
            lambda row, hs: build_bucket(hs, g) if row is None else add_bucket(row, hs),
        )

    def collect(self, state: DataFrame) -> dict[int, tuple]:
        """State DataFrame → driver dict {bucket: probe_cols values}. The
        state is n_buckets rows; the blobs are the only payload."""
        return {
            int(r[0]): tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else int(v) for v in r[1:])
            for r in state.select("bucket", *self.probe_cols).collect()
        }

    def maybe_seen(self, candidates: DataFrame, state) -> DataFrame:
        """Adds `maybe_seen boolean`: False ⇒ definitely unseen (skip the
        exact join); True ⇒ needs exact verification.

        `state` may be a state DataFrame, a dict from `collect`, or an
        existing `Broadcast` of such a dict. The filter bytes ship via ONE
        broadcast captured in the probe closure — the plan carries no join
        and no blob column; the probe is a narrow Arrow pass (numpy, no
        per-row Python)."""
        if isinstance(state, Broadcast):
            bc = state
        else:
            if isinstance(state, DataFrame):
                state = self.collect(state)
            bc = candidates.sparkSession.sparkContext.broadcast(dict(state))
        probe_bucket, hash_col, n_buckets = self.probe_bucket, self.hash_col, self.n_buckets
        out_schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )

        def probe(it):
            st = bc.value
            for pdf in it:
                res = pdf.copy()
                maybe = np.zeros(len(pdf), dtype=bool)
                if len(pdf) and st:
                    hashes = pdf[hash_col].to_numpy(dtype=np.int64)
                    buckets = hashes % n_buckets  # numpy % matches Spark pmod sign
                    for b in np.unique(buckets):
                        entry = st.get(int(b))
                        if entry is None:
                            continue  # empty bucket ⇒ nothing seen there
                        idx = np.nonzero(buckets == b)[0]
                        maybe[idx] = probe_bucket(entry, hashes[idx])
                res["maybe_seen"] = maybe
                yield res

        return candidates.mapInPandas(probe, out_schema)

    def health(self, state: DataFrame) -> tuple[int, int | None]:
        """(items the filter lost, rebuild geometry or None when every
        bucket is healthy). Reads the state rows without their blobs; the
        rebuild geometry is the largest any bucket asks for."""
        checks = [
            self.health_bucket(r.asDict())
            for r in state.drop(self.schema.fieldNames()[-1]).collect()
        ]
        lost = sum(c[0] for c in checks)
        if not any(c[1] for c in checks):
            return lost, None
        return lost, max(c[2] for c in checks)


def seen_filter(
    kind: str, n_buckets: int, bloom_bits: int, cuckoo_slots: int
) -> SeenFilter | None:
    """The engine's pre-filter: "bloom", "cuckoo", or None for "none"
    (exact anti-join only)."""
    if kind == "none":
        return None
    if kind == "bloom":
        return replace(BLOOM, n_buckets=n_buckets, geometry=bloom_bits)
    if kind == "cuckoo":
        from commoncrawlscalatools_spark.operators.cuckoo import cuckoo_filter

        return cuckoo_filter(n_buckets, cuckoo_slots)
    raise ValueError(f"unknown seen filter {kind!r}: expected bloom, cuckoo or none")


# -- Bloom flavor --------------------------------------------------------

BLOOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_bits", T.LongType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)
# sizing target: auto-sized builds use it, and a bucket whose n_items ·
# BLOOM_BITS_PER_ITEM outgrows n_bits is saturated (rebuild)
BLOOM_BITS_PER_ITEM = 10
BLOOM_MIN_BITS = 1 << 12
BLOOM_N_HASHES = max(1, int(round(BLOOM_BITS_PER_ITEM * math.log(2))))


def _pow2_bits(n_items: int) -> int:
    return 1 << int(math.ceil(math.log2(max(1, n_items * BLOOM_BITS_PER_ITEM))))


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Double-hashing positions: (h1 + i*h2) mod n_bits, vectorized.
    h1/h2 derived from the 64-bit url_hash by splitmix-style mixing."""
    x = hashes.astype(np.uint64)
    h1 = (x * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(16)
    h2 = ((x ^ (x >> np.uint64(33))) * np.uint64(0xC2B2AE3D27D4EB4F)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def _bloom_set(bits: np.ndarray, hashes: np.ndarray, n_bits: int, n_hashes: int) -> None:
    pos = _positions(hashes, n_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def _bloom_build(hashes: np.ndarray, n_bits: int | None) -> dict:
    if n_bits is None:
        n_bits = max(BLOOM_MIN_BITS, _pow2_bits(len(hashes)))
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    _bloom_set(bits, hashes, n_bits, BLOOM_N_HASHES)
    return {"n_bits": n_bits, "n_hashes": BLOOM_N_HASHES, "n_items": len(hashes),
            "bits": bits.tobytes()}


def _bloom_add(row: dict, hashes: np.ndarray) -> dict:
    if len(hashes):
        bits = np.frombuffer(row["bits"], dtype=np.uint8).copy()
        _bloom_set(bits, hashes, int(row["n_bits"]), int(row["n_hashes"]))
        row = {**row, "n_items": int(row["n_items"]) + len(hashes), "bits": bits.tobytes()}
    return row


def _bloom_probe(entry: tuple, hashes: np.ndarray) -> np.ndarray:
    n_bits, n_hashes, blob = entry
    bits = np.frombuffer(blob, dtype=np.uint8)
    hit = np.ones(len(hashes), dtype=bool)
    for row in _positions(hashes, n_bits, n_hashes):
        hit &= (bits[row >> 3] & (np.uint8(1) << (row & 7).astype(np.uint8))) != 0
    return hit


def _bloom_health(row: dict) -> tuple[int, bool, int]:
    # a rebuild sizes for the CURRENT worst bucket (not one doubling per
    # round chasing a growing seen set); a Bloom filter never loses items
    n_bits, n_items = int(row["n_bits"]), int(row["n_items"])
    return 0, n_items * BLOOM_BITS_PER_ITEM > n_bits, max(n_bits * 2, _pow2_bits(n_items))


BLOOM = SeenFilter(
    "bloom", BLOOM_STATE_SCHEMA, ("n_bits", "n_hashes", "bits"),
    _bloom_build, _bloom_add, _bloom_probe, _bloom_health,
)


def build_bloom(
    seen: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 64,
    n_bits: int | None = None,
) -> DataFrame:
    """One Bloom filter per fixed hash bucket. With `n_bits` set every
    bucket gets that fixed geometry; without it each bucket auto-sizes to
    its item count (BLOOM_BITS_PER_ITEM, at least BLOOM_MIN_BITS)."""
    return replace(BLOOM, n_buckets=n_buckets, hash_col=hash_col).build(seen, n_bits)


def collect_bloom(bloom_state: DataFrame) -> dict[int, tuple[int, int, bytes]]:
    """Bloom state DataFrame → driver dict {bucket: (n_bits, n_hashes, bits)}."""
    return BLOOM.collect(bloom_state)


def bloom_maybe_seen(
    candidates: DataFrame,
    bloom_state,
    hash_col: str = "url_hash",
    n_buckets: int = 64,
) -> DataFrame:
    """`SeenFilter.maybe_seen` for a Bloom state (DataFrame, dict from
    `collect_bloom`, or a Broadcast of one)."""
    return replace(BLOOM, n_buckets=n_buckets, hash_col=hash_col).maybe_seen(
        candidates, bloom_state
    )


# -- probe and exact verify ----------------------------------------------


def _verified_unseen(flagged: DataFrame, seen: DataFrame, hash_col: str) -> DataFrame:
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    needs_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = needs_check.join(seen.select(hash_col), hash_col, "left_anti")
    return definitely_new.unionByName(verified_new)


def filter_unseen_flagged(
    candidates: DataFrame,
    seen: DataFrame,
    hash_col: str = "url_hash",
    maybe_seen_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Engine-internal variant of `filter_unseen`: returns
    (verified_unseen, flagged_handle). The flagged probe output is
    persisted so the single probe pass feeds both the definitely-new and
    the exact-verify branch; the CALLER owns `flagged_handle.unpersist()`
    once the result is materialized (the crawl loop does this after the
    round commits). `flagged_handle` is None when no pre-filter is used."""
    if maybe_seen_fn is None:
        return filter_unseen(candidates, seen, hash_col), None
    flagged = maybe_seen_fn(candidates).persist(StorageLevel.MEMORY_AND_DISK)
    return _verified_unseen(flagged, seen, hash_col), flagged


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    hash_col: str = "url_hash",
    maybe_seen_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Verified-unseen candidates. With a pre-filter
    (`maybe_seen_fn(candidates) -> flagged`, e.g. a bound
    `SeenFilter.maybe_seen`) the exact anti-join runs only over the
    maybe-seen slice; the final set is identical either way
    (FP-independent).

    Library-safe: leaves NO cache behind (the probe may execute once per
    branch). Long-running callers that want the probe pass shared and
    cached should use `filter_unseen_flagged` and unpersist the returned
    handle themselves — attaching hidden persisted state to the returned
    DataFrame would leak a cache per call."""
    if maybe_seen_fn is None:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")
    return _verified_unseen(maybe_seen_fn(candidates), seen, hash_col)

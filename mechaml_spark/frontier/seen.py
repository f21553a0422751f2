"""Partitioned bloom-filter URL-seen set with exact anti-join backstop.

North-rule requirement: canonicalized + murmur3/xxhash-hashed URLs,
sharded by host-hash to kill skew, with **exact** final membership
(the bloom is only a prefilter — north rule demands the seen set be
exact, so every bloom "maybe" is verified by a left_anti join
against the authoritative seen table).

Scale design (10^10 URLs):
  * the seen table is parquet partitioned by ``host_shard``
    (``pmod(xxhash64(host), n_shards)``) — the anti-join shuffles
    only bloom survivors, co-partitioned by shard;
  * blooms are one bitset row per shard (``n_bits/8`` bytes each),
    updated via ``applyInPandas`` over candidate groups co-grouped
    with the existing bitset rows — no driver round-trip, no
    broadcast of the full filter set;
  * bit positions come from k xxhash64 values computed JVM-side
    (``F.xxhash64(url, seed_i)``), so probe and insert agree by
    construction.

False-positive budget: with n_bits=2^23 per shard, k=4, a shard
holds ~1M URLs at <1% FPR; at 10^10 total URLs use 4096 shards and
2^26 bits (512 MiB of bloom state cluster-wide — trivially
broadcastable per-shard via cogroup).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_T = T.StructType(
    [
        T.StructField("host_shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType()),
    ]
)

SEEN_T = T.StructType(
    [
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("host_shard", T.IntegerType(), False),
    ]
)

K_HASHES = 4


def host_shard_col(host, n_shards: int):
    return F.pmod(F.xxhash64(host), F.lit(n_shards)).cast("int")


def _bit_position_cols(url, n_bits: int):
    """K bit positions as K SCALAR long columns (``_b0.._bK``).

    An ``array<long>`` column materializes a Python list object per
    row on the pandas side — at millions of candidate rows per epoch
    that dominates the probe's CPU.  Scalar columns arrive as numpy
    arrays and stack for free."""
    return [
        F.pmod(F.xxhash64(url, F.lit(i)), F.lit(n_bits)).cast("long").alias(f"_b{i}")
        for i in range(K_HASHES)
    ]


class SeenSet:
    """Seen-set = (exact parquet-backed table, per-shard bloom rows).

    Both halves live as DataFrames so snapshots capture them; the
    class only carries the handles + sizing config.
    """

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 16,
        n_bits: int = 1 << 23,
        seen_df: DataFrame | None = None,
        bloom_df: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.seen_df = seen_df if seen_df is not None else spark.createDataFrame([], SEEN_T)
        self.bloom_df = bloom_df if bloom_df is not None else spark.createDataFrame([], BLOOM_T)

    # ------------------------------------------------------------- helpers
    def _with_keys(self, df: DataFrame, url_col: str, host_col: str) -> DataFrame:
        return df.select(
            "*",
            host_shard_col(F.col(host_col), self.n_shards).alias("host_shard"),
            *_bit_position_cols(F.col(url_col), self.n_bits),
        )

    # --------------------------------------------------------------- probe
    def filter_new(
        self, candidates: DataFrame, url_col: str = "url_norm", host_col: str = "host"
    ) -> DataFrame:
        """Rows of ``candidates`` whose URL is NOT in the seen set.

        Bloom prefilter via cogrouped applyInPandas (co-partitioned by
        shard), then exact left_anti for bloom-positives only.
        """
        cand = self._with_keys(candidates, url_col, host_col)
        bcols = ["_b%d" % i for i in range(K_HASHES)]
        out_schema = T.StructType(
            [f for f in cand.schema.fields if f.name not in bcols]
            + [T.StructField("_maybe_seen", T.BooleanType())]
        )
        pass_cols = [f.name for f in cand.schema.fields if f.name not in bcols]

        def probe(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return pd.DataFrame(columns=pass_cols + ["_maybe_seen"])
            out = cand_pdf[pass_cols].copy()
            if bloom_pdf.empty or bloom_pdf["bits"].iloc[0] is None:
                out["_maybe_seen"] = False
                return out
            bits = np.frombuffer(bloom_pdf["bits"].iloc[0], dtype=np.uint8)
            pos = np.stack(
                [cand_pdf[c].to_numpy(dtype=np.int64) for c in bcols], axis=1
            )
            mask = (1 << (pos & 7)).astype(np.uint8)
            out["_maybe_seen"] = np.all(bits[pos >> 3] & mask == mask, axis=1)
            return out

        probed = (
            cand.groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(probe, schema=out_schema)
        )
        definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
        verified_new = maybe.join(
            self.seen_df.select(F.col("url_norm").alias(url_col)),
            on=url_col,
            how="left_anti",
        )
        return definitely_new.unionByName(verified_new).drop("host_shard")

    # ------------------------------------------- fused probe + bloom update
    def probe_dedup_update(
        self,
        candidates: DataFrame,
        url_col: str = "url_norm",
        host_col: str = "host",
    ) -> DataFrame:
        """ONE cogrouped pass over ``candidates`` x blooms per shard:

        1. shard-local dedup (same URL -> same host -> same shard):
           min depth, any host, OR of ``is_hop``;
        2. bloom probe (``_maybe_seen``);
        3. bloom update: the new shard bitset ORs in the bits of EVERY
           candidate — correct regardless of the later exact anti-join,
           because a candidate is either bloom-negative (genuinely new,
           bits must be set) or bloom-positive (its bits are already
           set, so the OR is a no-op).  This removes the separate
           ``add`` shuffle from the superstep.

        Output rows are a tagged union: candidate rows carry
        ``bits IS NULL``; one bloom row per shard carries the updated
        bitset in ``bits`` (and NULL url).  Split downstream with two
        filters over one (lazily checkpointed) result.

        Requires candidate columns ``(url_col, host_col, depth, is_hop)``.
        """
        cand = self._with_keys(candidates, url_col, host_col)
        out_schema = T.StructType(
            [
                T.StructField("host_shard", T.IntegerType(), False),
                T.StructField(url_col, T.StringType()),
                T.StructField(host_col, T.StringType()),
                T.StructField("depth", T.IntegerType()),
                T.StructField("is_hop", T.BooleanType()),
                T.StructField("_maybe_seen", T.BooleanType()),
                T.StructField("bits", T.BinaryType()),
            ]
        )
        n_bytes = self.n_bits // 8

        def fused(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            cols = [
                "host_shard", url_col, host_col, "depth", "is_hop",
                "_maybe_seen", "bits",
            ]
            have_bloom = (
                not bloom_pdf.empty and bloom_pdf["bits"].iloc[0] is not None
            )
            if cand_pdf.empty:
                if not have_bloom:
                    return pd.DataFrame(columns=cols)
                shard = int(bloom_pdf["host_shard"].iloc[0])
                return pd.DataFrame(
                    {
                        "host_shard": [shard],
                        url_col: [None],
                        host_col: [None],
                        "depth": [None],
                        "is_hop": [None],
                        "_maybe_seen": [None],
                        "bits": [bloom_pdf["bits"].iloc[0]],
                    }
                )
            shard = int(cand_pdf["host_shard"].iloc[0])
            if have_bloom:
                bits = np.frombuffer(
                    bloom_pdf["bits"].iloc[0], dtype=np.uint8
                ).copy()
            else:
                bits = np.zeros(n_bytes, dtype=np.uint8)
            # shard-local dedup (vectorized groupby)
            bcols = ["_b%d" % i for i in range(K_HASHES)]
            g = cand_pdf.groupby(url_col, sort=False)
            dd = g.agg(
                **{
                    host_col: (host_col, "first"),
                    "depth": ("depth", "min"),
                    "is_hop": ("is_hop", "max"),
                    **{c: (c, "first") for c in bcols},
                }
            ).reset_index()
            pos = np.stack(
                [dd[c].to_numpy(dtype=np.int64) for c in bcols], axis=1
            )  # (n, K_HASHES)
            byte_idx = pos >> 3
            mask = (1 << (pos & 7)).astype(np.uint8)
            maybe = np.all(
                bits[byte_idx] & mask == mask, axis=1
            )
            np.bitwise_or.at(bits, byte_idx.ravel(), mask.ravel())
            out = pd.DataFrame(
                {
                    "host_shard": shard,
                    url_col: dd[url_col],
                    host_col: dd[host_col],
                    "depth": dd["depth"].astype("Int32"),
                    "is_hop": dd["is_hop"].astype(bool),
                    "_maybe_seen": maybe,
                    "bits": None,
                }
            )
            bloom_row = pd.DataFrame(
                {
                    "host_shard": [shard],
                    url_col: [None],
                    host_col: [None],
                    "depth": [None],
                    "is_hop": [None],
                    "_maybe_seen": [None],
                    "bits": [bits.tobytes()],
                }
            )
            import warnings

            with warnings.catch_warnings():
                # concat of the all-NA bloom tag row vs typed candidate
                # rows trips a pandas FutureWarning; the Arrow schema
                # cast downstream fixes dtypes either way
                warnings.simplefilter("ignore", FutureWarning)
                return pd.concat([out, bloom_row], ignore_index=True)

        return (
            cand.groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(fused, schema=out_schema)
        )

    # --------------------------------------------------------------- update
    def add(self, new_urls: DataFrame, url_col: str = "url_norm",
            host_col: str = "host") -> "SeenSet":
        """Return a new SeenSet with ``new_urls`` inserted (both the
        exact table and the shard blooms)."""
        cand = self._with_keys(new_urls.select(url_col, host_col), url_col, host_col)
        seen_new = self.seen_df.unionByName(
            cand.select(F.col(url_col).alias("url_norm"), "host_shard")
        )
        n_bytes = self.n_bits // 8

        def rebuild(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty and bloom_pdf.empty:
                return pd.DataFrame(columns=["host_shard", "bits"])
            if not bloom_pdf.empty and bloom_pdf["bits"].iloc[0] is not None:
                bits = np.frombuffer(
                    bloom_pdf["bits"].iloc[0], dtype=np.uint8
                ).copy()
                shard = int(bloom_pdf["host_shard"].iloc[0])
            else:
                bits = np.zeros(n_bytes, dtype=np.uint8)
                shard = int(cand_pdf["host_shard"].iloc[0])
            if not cand_pdf.empty:
                bcols = ["_b%d" % i for i in range(K_HASHES)]
                pos = np.concatenate(
                    [cand_pdf[c].to_numpy(dtype=np.int64) for c in bcols]
                )
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            return pd.DataFrame({"host_shard": [shard], "bits": [bits.tobytes()]})

        bloom_new = (
            cand.select("host_shard", *["_b%d" % i for i in range(K_HASHES)])
            .groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(rebuild, schema=BLOOM_T)
        )
        return SeenSet(
            self.spark, self.n_shards, self.n_bits, seen_new, bloom_new
        )

    def persist(self) -> "SeenSet":
        # lazy local checkpoints: lineage is truncated immediately;
        # materialization folds into the next action that reads the
        # seen set (fewer driver round-trips per superstep)
        self.seen_df = self.seen_df.localCheckpoint(eager=False)
        self.bloom_df = self.bloom_df.localCheckpoint(eager=False)
        return self


# ===================================================================
# Cuckoo-filter backend (north rule: "bloom/cuckoo URL-seen")
# ===================================================================

CUCKOO_SLOTS = 4
_CUCKOO_MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)  # partial-key alt-bucket mix (MurmurHash2 M)


def _cuckoo_layout(n_bits: int) -> int:
    """Buckets for a state budget comparable to a bloom of ``n_bits``
    bits: a cuckoo filter spends 16 bits per slot, so ``n_bits`` bloom
    bits buy ``n_bits/64`` buckets of 4 slots (same byte footprint as
    the bitset).  Power of two (``n_bits`` is), so the alt-bucket XOR
    stays in range."""
    return max(1024, n_bits >> 6)


def _cuckoo_keys(h0: np.ndarray, h1: np.ndarray, n_buckets: int):
    """(fingerprint, bucket-1, bucket-2) per item from two independent
    64-bit hashes.  fp=0 is the empty-slot sentinel, remapped to 1."""
    fp = (h1.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(n_buckets - 1)
    i1 = (h0.astype(np.uint64) & mask).astype(np.int64)
    i2 = ((i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MIX)) & mask).astype(
        np.int64
    )
    return fp, i1, i2


def _cuckoo_probe(tbl: np.ndarray, fp, i1, i2) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2."""
    return ((tbl[i1] == fp[:, None]).any(axis=1)) | (
        (tbl[i2] == fp[:, None]).any(axis=1)
    )


def _cuckoo_insert(
    tbl: np.ndarray, fp, i1, i2, n_buckets: int, if_absent: bool = False
) -> bool:
    """Insert each (fp, i1, i2) with deterministic cuckoo eviction
    (kick-counter slot choice — reproducible runs, no RNG).  Returns
    False on overflow (some item undisplaceable after MAX_KICKS); the
    caller then sets the shard overflow flag and the probe degrades to
    always-maybe for this shard (the exact anti-join keeps the seen
    set correct — same contract as a saturated bloom, made explicit).

    ``if_absent=True`` collapses duplicate fingerprints (space-lean;
    the crawl scheduler path, which never deletes).  ``False`` keeps
    MULTISET semantics (Fan et al. §3: duplicates must coexist) so a
    later ``delete`` of one URL cannot strip a colliding URL's only
    entry — required whenever deletion will be used.

    Per-shard insert is a Python loop over numpy scalars — O(1)
    amortized per URL, and per-epoch shard deltas are small next to
    the fetch/parse work they gate; probe (the per-candidate hot
    path) stays fully vectorized above."""
    mask = np.uint64(n_buckets - 1)
    for f, a, b in zip(fp, i1, i2):
        if if_absent and ((tbl[a] == f).any() or (tbl[b] == f).any()):
            continue  # already present (dup within batch or re-add)
        placed = False
        for bkt in (a, b):
            empt = np.nonzero(tbl[bkt] == 0)[0]
            if empt.size:
                tbl[bkt, empt[0]] = f
                placed = True
                break
        if placed:
            continue
        cur_f, cur_b = f, int(b)
        ok = False
        for kick in range(_CUCKOO_MAX_KICKS):
            slot = kick % CUCKOO_SLOTS
            cur_f, tbl[cur_b, slot] = tbl[cur_b, slot], cur_f
            cur_b = int(
                (np.uint64(cur_b) ^ (np.uint64(cur_f) * _FP_MIX)) & mask
            )
            empt = np.nonzero(tbl[cur_b] == 0)[0]
            if empt.size:
                tbl[cur_b, empt[0]] = cur_f
                ok = True
                break
        if not ok:
            return False
    return True


def _cuckoo_state(raw, n_buckets: int):
    """(table view (B,4) uint16, overflow flag) from a state blob."""
    if raw is None:
        return np.zeros((n_buckets, CUCKOO_SLOTS), dtype=np.uint16), False
    b = np.frombuffer(raw, dtype=np.uint8)
    tbl = b[:-1].view(np.uint16).reshape(n_buckets, CUCKOO_SLOTS).copy()
    return tbl, bool(b[-1])


def _cuckoo_blob(tbl: np.ndarray, ovf: bool) -> bytes:
    return tbl.tobytes() + (b"\x01" if ovf else b"\x00")


class CuckooSeenSet:
    """Partitioned cuckoo-filter URL-seen set — drop-in alternative to
    :class:`SeenSet` (the north rule names "bloom/cuckoo URL-seen").

    Same sharded-cogroup architecture: one filter blob per host-shard
    riding ``BLOOM_T`` rows, probe/insert inside ``applyInPandas``
    co-grouped by shard, exact parquet table as the authoritative
    backstop.  The filter is a partial-key cuckoo filter (Fan et al.,
    CoNEXT'14): ``n_buckets`` x 4 slots of 16-bit fingerprints, alt
    bucket ``i2 = i1 XOR h(fp)``.  What it buys over the bloom at the
    same byte footprint: **deletion** — a revisit/recrawl scheduler
    can re-admit a changed URL (``delete``) without rebuilding the
    filter — at ~95% achievable load factor and comparable FPR
    (4 slots x 16-bit fp ≈ 2^-13 per probe).

    Constructor signature matches ``SeenSet`` (same sharded state
    shape, so the two are interchangeable over a seen table); ``n_bits``
    is interpreted as the state-byte budget of the equivalent bloom
    (see ``_cuckoo_layout``).
    """

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 16,
        n_bits: int = 1 << 23,
        seen_df: DataFrame | None = None,
        bloom_df: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.n_buckets = _cuckoo_layout(n_bits)
        self.seen_df = seen_df if seen_df is not None else spark.createDataFrame([], SEEN_T)
        self.bloom_df = bloom_df if bloom_df is not None else spark.createDataFrame([], BLOOM_T)

    # ------------------------------------------------------------- helpers
    def _with_keys(self, df: DataFrame, url_col: str, host_col: str) -> DataFrame:
        """Two raw 64-bit hashes per URL (fp/buckets derived in numpy —
        probe and insert share one derivation by construction)."""
        return df.select(
            "*",
            host_shard_col(F.col(host_col), self.n_shards).alias("host_shard"),
            F.xxhash64(F.col(url_col)).alias("_h0"),
            F.xxhash64(F.col(url_col), F.lit(1)).alias("_h1"),
        )

    # --------------------------------------------------------------- probe
    def filter_new(
        self, candidates: DataFrame, url_col: str = "url_norm", host_col: str = "host"
    ) -> DataFrame:
        """Rows of ``candidates`` whose URL is NOT in the seen set
        (cuckoo prefilter, exact left_anti for filter-positives)."""
        cand = self._with_keys(candidates, url_col, host_col)
        hcols = ["_h0", "_h1"]
        out_schema = T.StructType(
            [f for f in cand.schema.fields if f.name not in hcols]
            + [T.StructField("_maybe_seen", T.BooleanType())]
        )
        pass_cols = [f.name for f in cand.schema.fields if f.name not in hcols]
        n_buckets = self.n_buckets

        def probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return pd.DataFrame(columns=pass_cols + ["_maybe_seen"])
            out = cand_pdf[pass_cols].copy()
            if filt_pdf.empty or filt_pdf["bits"].iloc[0] is None:
                out["_maybe_seen"] = False
                return out
            tbl, ovf = _cuckoo_state(filt_pdf["bits"].iloc[0], n_buckets)
            if ovf:
                out["_maybe_seen"] = True
                return out
            fp, i1, i2 = _cuckoo_keys(
                cand_pdf["_h0"].to_numpy(dtype=np.int64),
                cand_pdf["_h1"].to_numpy(dtype=np.int64),
                n_buckets,
            )
            out["_maybe_seen"] = _cuckoo_probe(tbl, fp, i1, i2)
            return out

        probed = (
            cand.groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(probe, schema=out_schema)
        )
        definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
        verified_new = maybe.join(
            self.seen_df.select(F.col("url_norm").alias(url_col)),
            on=url_col,
            how="left_anti",
        )
        return definitely_new.unionByName(verified_new).drop("host_shard")

    # ------------------------------------------- fused probe + filter update
    def probe_dedup_update(
        self,
        candidates: DataFrame,
        url_col: str = "url_norm",
        host_col: str = "host",
    ) -> DataFrame:
        """Same tagged-union contract as ``SeenSet.probe_dedup_update``
        (candidate rows carry ``bits IS NULL``; one state row per shard
        carries the updated filter blob).  Insert-if-absent keeps the
        filter duplicate-free, so a later ``delete`` clears exactly one
        slot."""
        cand = self._with_keys(candidates, url_col, host_col)
        out_schema = T.StructType(
            [
                T.StructField("host_shard", T.IntegerType(), False),
                T.StructField(url_col, T.StringType()),
                T.StructField(host_col, T.StringType()),
                T.StructField("depth", T.IntegerType()),
                T.StructField("is_hop", T.BooleanType()),
                T.StructField("_maybe_seen", T.BooleanType()),
                T.StructField("bits", T.BinaryType()),
            ]
        )
        n_buckets = self.n_buckets

        def fused(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            cols = [
                "host_shard", url_col, host_col, "depth", "is_hop",
                "_maybe_seen", "bits",
            ]
            have_state = (
                not filt_pdf.empty and filt_pdf["bits"].iloc[0] is not None
            )
            if cand_pdf.empty:
                if not have_state:
                    return pd.DataFrame(columns=cols)
                shard = int(filt_pdf["host_shard"].iloc[0])
                return pd.DataFrame(
                    {
                        "host_shard": [shard],
                        url_col: [None],
                        host_col: [None],
                        "depth": [None],
                        "is_hop": [None],
                        "_maybe_seen": [None],
                        "bits": [filt_pdf["bits"].iloc[0]],
                    }
                )
            shard = int(cand_pdf["host_shard"].iloc[0])
            tbl, ovf = _cuckoo_state(
                filt_pdf["bits"].iloc[0] if have_state else None, n_buckets
            )
            g = cand_pdf.groupby(url_col, sort=False)
            dd = g.agg(
                **{
                    host_col: (host_col, "first"),
                    "depth": ("depth", "min"),
                    "is_hop": ("is_hop", "max"),
                    "_h0": ("_h0", "first"),
                    "_h1": ("_h1", "first"),
                }
            ).reset_index()
            fp, i1, i2 = _cuckoo_keys(
                dd["_h0"].to_numpy(dtype=np.int64),
                dd["_h1"].to_numpy(dtype=np.int64),
                n_buckets,
            )
            if ovf:
                maybe = np.ones(len(dd), dtype=bool)
            else:
                maybe = _cuckoo_probe(tbl, fp, i1, i2)
                new = ~maybe
                if new.any() and not _cuckoo_insert(
                    tbl, fp[new], i1[new], i2[new], n_buckets, if_absent=True
                ):
                    ovf = True
            out = pd.DataFrame(
                {
                    "host_shard": shard,
                    url_col: dd[url_col],
                    host_col: dd[host_col],
                    "depth": dd["depth"].astype("Int32"),
                    "is_hop": dd["is_hop"].astype(bool),
                    "_maybe_seen": maybe,
                    "bits": None,
                }
            )
            state_row = pd.DataFrame(
                {
                    "host_shard": [shard],
                    url_col: [None],
                    host_col: [None],
                    "depth": [None],
                    "is_hop": [None],
                    "_maybe_seen": [None],
                    "bits": [_cuckoo_blob(tbl, ovf)],
                }
            )
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", FutureWarning)
                return pd.concat([out, state_row], ignore_index=True)

        return (
            cand.groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(fused, schema=out_schema)
        )

    # --------------------------------------------------------------- update
    def add(self, new_urls: DataFrame, url_col: str = "url_norm",
            host_col: str = "host") -> "CuckooSeenSet":
        """New CuckooSeenSet with ``new_urls`` inserted (exact table +
        shard filters).  One filter entry per DISTINCT url per call
        (multiset across calls and across fp collisions — see
        ``_cuckoo_insert``), so ``delete`` is always safe on
        previously-added URLs."""
        cand = self._with_keys(new_urls.select(url_col, host_col), url_col, host_col)
        seen_new = self.seen_df.unionByName(
            cand.select(F.col(url_col).alias("url_norm"), "host_shard")
        )
        n_buckets = self.n_buckets

        def rebuild(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty and filt_pdf.empty:
                return pd.DataFrame(columns=["host_shard", "bits"])
            have_state = (
                not filt_pdf.empty and filt_pdf["bits"].iloc[0] is not None
            )
            tbl, ovf = _cuckoo_state(
                filt_pdf["bits"].iloc[0] if have_state else None, n_buckets
            )
            shard = int(
                (filt_pdf if have_state else cand_pdf)["host_shard"].iloc[0]
            )
            if not cand_pdf.empty and not ovf:
                fp, i1, i2 = _cuckoo_keys(
                    cand_pdf["_h0"].to_numpy(dtype=np.int64),
                    cand_pdf["_h1"].to_numpy(dtype=np.int64),
                    n_buckets,
                )
                if not _cuckoo_insert(tbl, fp, i1, i2, n_buckets):
                    ovf = True
            return pd.DataFrame(
                {"host_shard": [shard], "bits": [_cuckoo_blob(tbl, ovf)]}
            )

        filt_new = (
            cand.select("host_shard", "_h0", "_h1")
            .distinct()  # one entry per distinct URL per add() call
            .groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(rebuild, schema=BLOOM_T)
        )
        return CuckooSeenSet(
            self.spark, self.n_shards, self.n_bits, seen_new, filt_new
        )

    # --------------------------------------------------------------- delete
    def delete(self, urls: DataFrame, url_col: str = "url_norm",
               host_col: str = "host") -> "CuckooSeenSet":
        """Remove ``urls`` from the seen set — the capability the bloom
        backend cannot offer.  Use case: a change-rate revisit scheduler
        re-admits a stale URL to the frontier without rebuilding filter
        state.  Clears ONE matching fingerprint copy per URL and
        anti-joins the exact table.  Safe (no false negatives for other
        URLs) because ``add`` keeps multiset semantics: a colliding URL
        holds its own entry, so removing this URL's copy leaves the
        neighbor probing "maybe".  Standard cuckoo-filter contract
        still applies: delete only URLs previously added, at most once
        per add."""
        cand = self._with_keys(
            urls.select(url_col, host_col).distinct(), url_col, host_col
        )
        seen_new = self.seen_df.join(
            cand.select(F.col(url_col).alias("url_norm")), "url_norm", "left_anti"
        )
        n_buckets = self.n_buckets

        def drop(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            have_state = (
                not filt_pdf.empty and filt_pdf["bits"].iloc[0] is not None
            )
            if not have_state:
                return pd.DataFrame(columns=["host_shard", "bits"])
            shard = int(filt_pdf["host_shard"].iloc[0])
            tbl, ovf = _cuckoo_state(filt_pdf["bits"].iloc[0], n_buckets)
            if not cand_pdf.empty:
                fp, i1, i2 = _cuckoo_keys(
                    cand_pdf["_h0"].to_numpy(dtype=np.int64),
                    cand_pdf["_h1"].to_numpy(dtype=np.int64),
                    n_buckets,
                )
                for f, a, b in zip(fp, i1, i2):
                    for bkt in (a, b):
                        hit = np.nonzero(tbl[bkt] == f)[0]
                        if hit.size:
                            tbl[bkt, hit[0]] = 0
                            break
            return pd.DataFrame(
                {"host_shard": [shard], "bits": [_cuckoo_blob(tbl, ovf)]}
            )

        filt_new = (
            cand.select("host_shard", "_h0", "_h1")
            .groupBy("host_shard")
            .cogroup(self.bloom_df.groupBy("host_shard"))
            .applyInPandas(drop, schema=BLOOM_T)
        )
        return CuckooSeenSet(
            self.spark, self.n_shards, self.n_bits, seen_new, filt_new
        )

    def persist(self) -> "CuckooSeenSet":
        self.seen_df = self.seen_df.localCheckpoint(eager=False)
        self.bloom_df = self.bloom_df.localCheckpoint(eager=False)
        return self

"""Versioned parquet table: manifest-committed writes, time travel,
and snapshot diffs — a minimal Delta-style transaction log over plain
parquet.

The reference's upsert loop (src/common/db.py:120-227 ON CONFLICT)
destroys prior state on every run: no "what did this table look like
before today's extraction?", no auditable change feed, and readers can
observe a half-committed TRUNCATE+INSERT. The lakehouse answer is an
immutable-data + manifest-pointer design:

- every commit writes data files into a fresh generation directory and
  records a manifest (partition → generation mapping) as `_manifests/
  v<N>.json`; a `_LATEST` pointer file is swapped last via atomic
  rename. Readers resolve a manifest and only ever see fully committed
  states — there is no window where a reader observes a partial write.
- merges are copy-on-write at partition granularity — and at FILE
  granularity for unpartitioned tables: every commit records each data
  file's merge-key footer min/max in the manifest, and later merges
  range-join those stats (kilobytes, broadcast) against the source's
  distinct keys to rewrite only files that can contain a match,
  carrying every other entry over verbatim. The manifest is the
  file-skipping index — no footer is ever re-read. At 100 TB a daily
  merge commits kilobytes of manifest plus the touched files — the
  same economics as ParquetTable's pruned swap, but old versions stay
  readable.
- `read(version=N)` is time travel; `diff(v0, v1)` composes with
  operators.history.snapshot_diff into an exact CDC feed between any
  two commits; `changes(v0, v1)` is the same feed computed FILE-PRUNED
  (only files whose manifest entries differ are read — cost ∝ churn,
  not table size) and `poll_changes(cursor)` wraps it into the
  incremental-consumer loop; `vacuum(retain_last=K)` drops manifests
  older than the retention window and deletes generation dirs no kept
  manifest references.

Single-writer, like the reference's scheduled pipeline (and like the
non-versioned ParquetTable): commits are not designed for concurrent
writers racing on `_LATEST`.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import (
    MergeMode,
    align_schemas,
    clustered_rewrite,
    file_key_ranges,
    leaf_dirs,
    merge_window,
    partition_scope,
    touched_by_key_ranges,
)

__all__ = ["VersionedParquetTable"]

_ROOT = "__root__"  # manifest key for an unpartitioned table's data


#: Per-file bloom sizing: 2^15 bits = 4 KiB per file (≈5.5 KiB base64
#: in the manifest). FPR ≈ (1 − e^(−k·n/m))^k with k=4 hashes: ~0.2% at
#: n=2k keys/file, ~2.4% at n=4k, degrading gracefully toward 1 (never
#: a wrong skip — a saturated bloom just stops helping) for huge files.
_BLOOM_K = 4


def _splitmix64(x):
    """Vectorized splitmix64 finalizer over uint64 — the bloom's hash.
    Pure integer mixing, identical on every worker and across runs."""
    import numpy as np

    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _bloom_positions(vals, m: int):
    """k bit positions per value via double hashing h1 + i·h2 (mod m)."""
    import numpy as np

    v = vals.astype(np.uint64)
    h1 = _splitmix64(v)
    h2 = _splitmix64(v ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    with np.errstate(over="ignore"):
        return [
            ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)
            for i in range(_BLOOM_K)
        ]


def _bloom_build(vals, m: int) -> bytes:
    import numpy as np

    bits = np.zeros(m // 8, dtype=np.uint8)
    for pos in _bloom_positions(vals, m):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits.tobytes()


def _bloom_any_member(vals, bits_arr, m: int) -> bool:
    """True iff ANY value tests positive (all k bits set) in the bloom."""
    import numpy as np

    member = np.ones(len(vals), dtype=bool)
    for pos in _bloom_positions(vals, m):
        member &= (bits_arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        if not member.any():
            return False
    return bool(member.any())


def _stat_encode(v):
    """JSON-safe encoding for a footer min/max value, type-tagged so
    decode restores the exact Python type the prune join needs."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, bool):
        return {"t": "bool", "v": v}
    if isinstance(v, int):
        return {"t": "int", "v": v}
    if isinstance(v, float):
        return {"t": "float", "v": v}
    if isinstance(v, str):
        return {"t": "str", "v": v}
    if isinstance(v, _dt.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "date", "v": v.isoformat()}
    raise TypeError(f"unencodable stat type {type(v)!r}")


def _stat_decode(d):
    import datetime as _dt

    if d is None:
        return None
    t, v = d["t"], d["v"]
    if t == "ts":
        return _dt.datetime.fromisoformat(v)
    if t == "date":
        return _dt.date.fromisoformat(v)
    return v


@dataclass
class VersionedParquetTable:
    path: str
    key: Sequence[str]
    partition_by: Sequence[str] = field(default_factory=tuple)
    #: Bits per per-file key bloom recorded in the manifest (0 disables).
    #: Min/max ranges only prune KEY-CLUSTERED layouts — on a
    #: hash-distributed table every file's range spans the whole key
    #: space and range pruning degenerates to "touch everything". The
    #: bloom keeps file skipping effective there: a merge probes each
    #: candidate file's bloom with the source keys and skips files with
    #: no possible match. False positives only cost an extra rewrite;
    #: false negatives are impossible (every stored key sets its bits).
    bloom_bits: int = 1 << 15

    # -- log layout ---------------------------------------------------------

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "_data")

    def _gen_dir(self, gen: str) -> str:
        return os.path.join(self._data_dir, gen)

    def versions(self) -> list[int]:
        if not os.path.isdir(self._manifest_dir):
            return []
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self._manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def latest_version(self) -> int | None:
        """The committed version per the _LATEST pointer (falls back to
        the highest manifest if the pointer write crashed mid-commit —
        both states are fully written, the pointer is just behind)."""
        p = os.path.join(self.path, "_LATEST")
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip())
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir, f"v{version:08d}.json")) as f:
            return json.load(f)

    def _commit(
        self,
        mapping: dict[str, str],
        op: str,
        schema_json: str,
        files: list[dict] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Write manifest v<N+1> then swap the _LATEST pointer. Both
        writes are tmp+rename: a crash at any point leaves the previous
        version fully intact and readable. The committed schema rides
        in the manifest so an EMPTY commit (no data files at all) stays
        readable as a zero-row frame (ADVICE r2). For unpartitioned
        tables `files` carries one entry per data file with the merge
        key's footer min/max — the manifest IS the file-skipping index,
        so later merges prune without ever re-reading footers."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        prev = self.latest_version()
        version = (prev or 0) + 1
        # Writer-transaction watermarks (Delta txn appId/version pattern)
        # carry forward through EVERY commit so idempotence survives
        # interleaved overwrites/compactions.
        txns = dict(self._manifest(prev).get("txns", {})) if prev else {}
        if txn is not None:
            txns[txn[0]] = txn[1]
        doc = {
            "version": version,
            "op": op,
            "partitions": mapping,
            "schema": json.loads(schema_json),
        }
        if txns:
            doc["txns"] = txns
        if files is not None:
            doc["files"] = files
        mpath = os.path.join(self._manifest_dir, f"v{version:08d}.json")
        tmp = f"{mpath}.tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.rename(tmp, mpath)
        ptr = os.path.join(self.path, "_LATEST")
        tmp = f"{ptr}.tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, ptr)
        return version

    # -- IO -----------------------------------------------------------------

    def _write_generation(self, df: DataFrame) -> tuple[str, list[str]]:
        """Write df into a fresh generation dir; returns (gen, partition
        leaf dirs written) — [_ROOT] for unpartitioned tables."""
        gen = uuid.uuid4().hex[:12]
        out = self._gen_dir(gen)
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(out)
        # An empty frame writes no readable data (partitioned: no leaf
        # dirs; unpartitioned: _SUCCESS only) — commit an empty mapping
        # and let read() rebuild the frame from the manifest schema.
        has_data = any(
            f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
        )
        if not has_data:
            shutil.rmtree(out, ignore_errors=True)
            return gen, []
        if not self.partition_by:
            return gen, [_ROOT]
        return gen, leaf_dirs(out, len(self.partition_by))

    def _collect_file_entries(self, gen: str) -> list[dict]:
        """Footer-scan a FRESHLY WRITTEN generation once and record per-
        file merge-key min/max into manifest entries. Files whose stats
        are unusable (exotic key type, truncated/absent stats) get
        `nostats` entries — always treated as touched by future merges,
        never wrongly skipped."""
        out_dir = self._gen_dir(gen)
        if not os.path.isdir(out_dir):
            return []
        ranges = file_key_ranges(out_dir, self.key[0])
        entries: list[dict] = []
        if ranges is not None:
            try:
                out = []
                for p, lo, hi, nulls in ranges:
                    e = {
                        "gen": gen,
                        "name": os.path.relpath(p, out_dir),
                        "min": _stat_encode(lo),
                        "max": _stat_encode(hi),
                        "nulls": nulls,
                    }
                    # Integer keys additionally get a bloom over the
                    # file's actual key values — read once, at write
                    # time, while the file is hot.
                    if (
                        self.bloom_bits
                        and isinstance(lo, int)
                        and not isinstance(lo, bool)
                    ):
                        import base64

                        import numpy as np
                        import pyarrow.parquet as pq

                        col = pq.read_table(p, columns=[self.key[0]]).column(0)
                        vals = (
                            col.combine_chunks()
                            .drop_null()
                            .to_numpy(zero_copy_only=False)
                            .astype(np.int64)
                        )
                        e["bloom"] = base64.b64encode(
                            _bloom_build(vals, self.bloom_bits)
                        ).decode()
                        e["bloom_m"] = self.bloom_bits
                    out.append(e)
                return out
            except TypeError:
                entries = []
        for dp, _, fs in os.walk(out_dir):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    entries.append(
                        {
                            "gen": gen,
                            "name": os.path.relpath(os.path.join(dp, f), out_dir),
                            "min": None,
                            "max": None,
                            "nulls": True,
                            "nostats": True,
                        }
                    )
        return entries

    def _entry_path(self, e: dict) -> str:
        return os.path.join(self._gen_dir(e["gen"]), e["name"])

    def _bloom_hits(self, source: DataFrame, key: str, cands: list[dict]):
        """Distributed bloom probe: which candidate files does ANY
        distinct source key hit? The blooms (4 KiB × |cands|) ship in
        the kernel closure — the task-side analog of a broadcast dim —
        and each partition of distinct keys emits only the file ids it
        hit plus a null-seen marker: shuffle ∝ hits, not keys.
        Returns (hit_id_set, source_has_null_keys)."""
        import base64

        import numpy as np

        blooms = [
            (
                f'{e["gen"]}/{e["name"]}',
                np.frombuffer(base64.b64decode(e["bloom"]), dtype=np.uint8),
                int(e["bloom_m"]),
            )
            for e in cands
        ]
        NULL_MARK = "\x00null"
        # A null in an int64 Arrow batch coerces the pandas column to
        # float64, silently rounding keys above 2^53 before the probe
        # (code-review r3: a rounded key misses its bloom → a real file
        # is skipped → duplicate-key corruption). Nulls are therefore
        # folded into a sentinel + flag IN SPARK so the key column
        # reaching pandas is null-free and stays exact int64.
        probe = (
            source.select(F.col(key).alias("__k0"))
            .distinct()
            .select(
                F.coalesce(F.col("__k0"), F.lit(-(1 << 63))).alias("__k"),
                F.col("__k0").isNull().alias("__isnull"),
            )
        )

        def kernel(batches):
            import pandas as pd

            hits: set[str] = set()
            saw_null = False
            for pdf in batches:
                if pdf["__isnull"].any():
                    saw_null = True
                vals = pdf.loc[~pdf["__isnull"], "__k"].to_numpy(dtype=np.int64)
                if len(vals):
                    for fid, bits, m in blooms:
                        if fid not in hits and _bloom_any_member(vals, bits, m):
                            hits.add(fid)
            out = sorted(hits) + ([NULL_MARK] if saw_null else [])
            yield pd.DataFrame({"fid": pd.Series(out, dtype="object")})

        got = {r["fid"] for r in probe.mapInPandas(kernel, "fid string").collect()}
        return {g for g in got if g != NULL_MARK}, NULL_MARK in got

    def _unpartitioned_entries(self, manifest: dict) -> list[dict]:
        """File entries of an unpartitioned version; old manifests that
        predate file tracking are migrated by footer-scanning their one
        generation dir."""
        if "files" in manifest:
            return manifest["files"]
        mapping = manifest["partitions"]
        if _ROOT in mapping:
            return self._collect_file_entries(mapping[_ROOT])
        return []

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _empty_frame(self, spark: SparkSession, manifest: dict) -> DataFrame:
        from pyspark.sql import types as T

        schema = manifest.get("schema")
        if schema is None:
            raise ValueError(
                f"version {manifest.get('version')} at {self.path} is empty "
                "and predates schema-carrying manifests — cannot reconstruct"
            )
        return spark.createDataFrame([], T.StructType.fromJson(schema))

    def _read_entries(
        self, spark: SparkSession, manifest: dict, entries: list[dict]
    ) -> DataFrame:
        """Frame over a SUBSET of an unpartitioned version's file
        entries (empty subset → schema-true empty frame)."""
        if not entries:
            return self._empty_frame(spark, manifest)
        return spark.read.parquet(*[self._entry_path(e) for e in entries])

    def _read_parts(
        self, spark: SparkSession, manifest: dict, part_to_gen: dict[str, str]
    ) -> DataFrame:
        """Frame over a SUBSET of a partitioned version's partition →
        generation mapping (basePath keeps partition columns)."""
        if not part_to_gen:
            return self._empty_frame(spark, manifest)
        by_gen: dict[str, list[str]] = {}
        for part, gen in part_to_gen.items():
            by_gen.setdefault(gen, []).append(part)
        frames = [
            spark.read.option("basePath", self._gen_dir(gen)).parquet(
                *[os.path.join(self._gen_dir(gen), p) for p in parts]
            )
            for gen, parts in sorted(by_gen.items())
        ]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The table as of `version` (default: latest). Resolves the
        manifest's partition→generation mapping and unions one read per
        referenced generation (basePath keeps partition columns); a
        compacted table references one generation, an incrementally
        merged one a handful."""
        v = version if version is not None else self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        manifest = self._manifest(v)
        mapping = manifest["partitions"]

        if not self.partition_by:
            entries = manifest.get("files")
            if entries is None and _ROOT in mapping:
                return spark.read.parquet(self._gen_dir(mapping[_ROOT]))
            return self._read_entries(spark, manifest, entries or [])
        return self._read_parts(spark, manifest, mapping)

    # -- commits ------------------------------------------------------------

    def overwrite(self, df: DataFrame) -> int:
        """Full refresh (K5) as a new version; prior versions stay
        readable until vacuumed."""
        gen, parts = self._write_generation(df)
        files = self._collect_file_entries(gen) if not self.partition_by else None
        return self._commit(
            {p: gen for p in parts}, "overwrite", df.schema.json(), files=files
        )

    def merge(
        self,
        source: DataFrame,
        *,
        mode: str = MergeMode.UPDATE_ALL,
        update_subset: Sequence[str] = (),
        source_order: Sequence[str] = (),
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE INTO … USING source ON key, committed as a new version.

        `txn=(app_id, txn_version)` makes the merge IDEMPOTENT per
        writer (the Delta transaction pattern): the manifest remembers
        each app's highest applied txn_version, and a merge at or below
        that watermark is a no-op returning the current table version —
        the exactly-once hook for streaming foreachBatch replays, where
        a crash between sink commit and checkpoint advance redelivers a
        batch.

        Same row semantics as ParquetTable.merge (shared merge_window /
        partition_scope helpers); the difference is the commit: touched
        partitions are written copy-on-write into a new generation and
        the manifest splices them over the parent mapping, so untouched
        partitions are never rewritten AND the parent version remains
        readable.
        """
        keys = list(self.key)

        def rows(target: DataFrame | None, src: DataFrame) -> DataFrame:
            return merge_window(target, src, keys, mode, update_subset, source_order)

        spark = source.sparkSession
        if not self.exists():
            gen, parts = self._write_generation(rows(None, source))
            files = (
                self._collect_file_entries(gen) if not self.partition_by else None
            )
            return self._commit(
                {p: gen for p in parts},
                "merge",
                source.schema.json(),
                files=files,
                txn=txn,
            )

        parent_manifest = self._manifest(self.latest_version())
        if txn is not None:
            applied = parent_manifest.get("txns", {}).get(txn[0])
            if applied is not None and applied >= txn[1]:
                return parent_manifest["version"]  # replayed batch: no-op

        if not self.partition_by:
            return self._merge_unpartitioned(
                spark, parent_manifest, source, keys, rows, txn
            )

        parent = parent_manifest["partitions"]
        target = self.read(spark)
        target, source = align_schemas(target, source)

        scoped = False
        if self.partition_by:
            scoped, cond = partition_scope(target, source, keys, self.partition_by)
            if scoped:
                target = target.filter(cond)

        merged = rows(target, source)
        gen, parts = self._write_generation(merged)
        if scoped:
            mapping = dict(parent)
            mapping.update({p: gen for p in parts})
        else:
            mapping = {p: gen for p in parts}
        return self._commit(mapping, "merge", merged.schema.json(), txn=txn)

    def _merge_unpartitioned(
        self,
        spark: SparkSession,
        parent_manifest: dict,
        source: DataFrame,
        keys: list[str],
        rows: Callable[[DataFrame | None, DataFrame], DataFrame],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """File-level copy-on-write MERGE: the parent manifest's per-file
        key ranges (recorded at write time — no footer re-reads) are
        range-joined against the source's distinct keys; only files that
        can contain a match are read and rewritten into the new
        generation, every other file entry is carried over verbatim, so
        the commit cost is ∝ touched data + kilobytes of manifest. The
        parent version stays readable (time travel) because carried
        entries keep pointing at their original generations — the same
        economics as the partition-scoped path, at file granularity.
        `rows(target, source)` is merge's merge_window for this batch."""
        entries = self._unpartitioned_entries(parent_manifest)
        target_all = self.read(spark)

        def full_rewrite() -> int:
            merged = rows(*align_schemas(target_all, source))
            gen, _parts = self._write_generation(merged)
            return self._commit(
                {}, "merge", merged.schema.json(),
                files=self._collect_file_entries(gen), txn=txn,
            )

        # Adding source columns forces a rewrite so every live file
        # keeps one schema (mirrors ParquetTable.merge).
        if not set(source.columns) <= set(target_all.columns):
            return full_rewrite()

        always = [e for e in entries if e.get("nostats")]
        ranged = [e for e in entries if not e.get("nostats")]
        ranges = [
            (
                f'{e["gen"]}/{e["name"]}',
                _stat_decode(e["min"]),
                _stat_decode(e["max"]),
                e["nulls"],
            )
            for e in ranged
        ]
        touched_ids: set | None = set()
        if ranges:
            touched_ids = touched_by_key_ranges(source, keys[0], ranges)
            if touched_ids is None:
                return full_rewrite()
        def fid(e: dict) -> str:
            return f'{e["gen"]}/{e["name"]}'

        touched = always + [e for e in ranged if fid(e) in touched_ids]

        # Bloom refinement: on key-unclustered layouts the range probe
        # touches almost everything; the per-file blooms cut candidates
        # down to files that actually contain a source key (plus a
        # bounded false-positive tail).
        bloomable = [e for e in touched if e.get("bloom")]
        if bloomable:
            hits, src_has_null = self._bloom_hits(source, keys[0], bloomable)
            touched = [
                e
                for e in touched
                if not e.get("bloom")
                or fid(e) in hits
                or (src_has_null and e.get("nulls"))
            ]

        touched_fids = {fid(e) for e in touched}
        untouched = [e for e in entries if fid(e) not in touched_fids]

        if touched:
            tsub = spark.read.parquet(*[self._entry_path(e) for e in touched])
            merged = rows(*align_schemas(tsub, source))
        else:
            # Pure-insert batch: no existing file can hold a match.
            merged = rows(None, align_schemas(target_all.limit(0), source)[1])
        gen, _parts = self._write_generation(merged)
        return self._commit(
            {}, "merge", merged.schema.json(),
            files=untouched + self._collect_file_entries(gen), txn=txn,
        )

    def compact(
        self,
        spark: SparkSession,
        *,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        n_files: int | None = None,
    ) -> int:
        """Rewrite the latest version into a single generation (one
        read per future query) as a new commit.

        Incremental merges slowly destroy clustering — fresh generations
        hold whatever key mix their batches carried, so range pruning
        degrades toward bloom-only skipping. `cluster_by` range-
        partitions + sorts the rewrite on the given columns (typically
        the merge key), restoring tight per-file min/max in the new
        manifest; `zorder_by` clusters on the Morton-interleaved key
        (operators.scale.with_zorder) for multi-column skipping. The
        OPTIMIZE cadence at scale: merges stay cheap between compactions,
        compactions restore the range-prunable layout.
        """
        df = self.read(spark)
        if n_files is None:
            n_files = max(1, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")) // 4)
        if cluster_by or zorder_by:
            df = clustered_rewrite(
                df, cluster_by=cluster_by, zorder_by=zorder_by, n_files=n_files
            )
        gen, parts = self._write_generation(df)
        files = self._collect_file_entries(gen) if not self.partition_by else None
        return self._commit(
            {p: gen for p in parts}, "compact", df.schema.json(), files=files
        )

    # -- history ------------------------------------------------------------

    def diff(
        self,
        spark: SparkSession,
        v_old: int,
        v_new: int,
        *,
        compare_cols: Sequence[str] | None = None,
        include_unchanged: bool = False,
    ) -> DataFrame:
        """Exact CDC feed between two committed versions (insert /
        delete / update per key) via operators.history.snapshot_diff."""
        from .history import snapshot_diff

        old, new = self.read(spark, v_old), self.read(spark, v_new)
        old, new = align_schemas(old, new)
        cols = list(
            compare_cols
            if compare_cols is not None
            else [c for c in old.columns if c not in self.key]
        )
        return snapshot_diff(
            old, new, list(self.key), cols, include_unchanged=include_unchanged
        )

    def changes(
        self,
        spark: SparkSession,
        v_old: int,
        v_new: int,
        *,
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """File-pruned CDC feed between two committed versions.

        Same insert/delete/update rows as `diff(v_old, v_new)`, but
        computed by comparing the two MANIFESTS first: files (or, for
        partitioned tables, partition→generation entries) present in
        both versions are carried data that cannot contain a change and
        are never read. Only removed entries (old side) and added
        entries (new side) are scanned and fed to snapshot_diff — rows
        a copy-on-write rewrite carried over unmodified fall out as
        'unchanged' there. Cost ∝ churned data + one keyed join over
        it, independent of table size: a daily merge touching 1% of a
        100 TB table yields a change feed that reads ~2% (old + new
        copies of the churn), where diff() would read 200 TB.

        No `include_unchanged` option, deliberately: unchanged rows in
        carried files are exactly the rows this method never sees, so
        an 'unchanged' feed here would be silently partial — use
        diff(include_unchanged=True) when you really need one.
        """
        m_old, m_new = self._manifest(v_old), self._manifest(v_new)
        if self.partition_by:
            po, pn = m_old["partitions"], m_new["partitions"]
            old_df = self._read_parts(
                spark, m_old, {p: g for p, g in po.items() if pn.get(p) != g}
            )
            new_df = self._read_parts(
                spark, m_new, {p: g for p, g in pn.items() if po.get(p) != g}
            )
        else:
            def fid(e: dict) -> str:
                return f'{e["gen"]}/{e["name"]}'

            eo = {fid(e): e for e in self._unpartitioned_entries(m_old)}
            en = {fid(e): e for e in self._unpartitioned_entries(m_new)}
            old_df = self._read_entries(
                spark, m_old, [e for f, e in eo.items() if f not in en]
            )
            new_df = self._read_entries(
                spark, m_new, [e for f, e in en.items() if f not in eo]
            )
        from .history import snapshot_diff

        old_df, new_df = align_schemas(old_df, new_df)
        cols = list(
            compare_cols
            if compare_cols is not None
            else [c for c in old_df.columns if c not in self.key]
        )
        return snapshot_diff(old_df, new_df, list(self.key), cols)

    def poll_changes(
        self,
        spark: SparkSession,
        cursor: int | None,
        *,
        compare_cols: Sequence[str] | None = None,
    ) -> tuple[DataFrame, int]:
        """Incremental-consumer loop step: (change feed since `cursor`,
        new cursor). `cursor=None` is initial sync — the whole current
        version as 'insert' rows in the same feed schema. A cursor
        already at the latest version yields an empty feed and the same
        cursor back; persist the returned cursor (it is just the
        version number) next to the consumer's own output, and the loop
        is exactly-once under replays — the foreachBatch-style pull
        analog of a streaming CDC source.

        Versions older than the vacuum retention window cannot be
        polled from — re-sync with `cursor=None` if a consumer lags
        past `vacuum(retain_last=...)`.
        """
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        if cursor is not None and cursor >= latest:
            feed = self.changes(
                spark, latest, latest, compare_cols=compare_cols
            ).limit(0)
            return feed, latest
        if cursor is None:
            from .history import snapshot_diff

            m = self._manifest(latest)
            new_df = self.read(spark, latest)
            old_df = self._empty_frame(spark, m)
            old_df, new_df = align_schemas(old_df, new_df)
            cols = list(
                compare_cols
                if compare_cols is not None
                else [c for c in new_df.columns if c not in self.key]
            )
            return snapshot_diff(old_df, new_df, list(self.key), cols), latest
        return self.changes(spark, cursor, latest, compare_cols=compare_cols), latest

    def vacuum(self, *, retain_last: int = 2, min_age_s: int = 3600) -> list[str]:
        """Drop manifests beyond the retention window and delete
        generation dirs no kept manifest references. Returns removed
        paths. The live version is always kept. `min_age_s` protects a
        crashed-or-in-flight writer's freshly written (not yet
        committed) generation from being reclaimed mid-commit — pass 0
        only when no writer can be running (mirrors
        ParquetTable.vacuum's guard)."""
        import time

        vs = self.versions()
        if not vs:
            return []
        keep = set(vs[-max(1, retain_last):])
        live = self.latest_version()
        if live is not None:
            keep.add(live)
        referenced: set[str] = set()
        for v in keep:
            m = self._manifest(v)
            referenced.update(m["partitions"].values())
            referenced.update(e["gen"] for e in m.get("files", ()))
        removed: list[str] = []
        for v in vs:
            if v not in keep:
                p = os.path.join(self._manifest_dir, f"v{v:08d}.json")
                os.remove(p)
                removed.append(p)
        cutoff = time.time() - min_age_s
        if os.path.isdir(self._data_dir):
            for gen in os.listdir(self._data_dir):
                if gen in referenced:
                    continue
                full = self._gen_dir(gen)
                try:
                    newest = max(
                        (
                            os.path.getmtime(os.path.join(dp, f))
                            for dp, _, fs in os.walk(full)
                            for f in fs
                        ),
                        default=os.path.getmtime(full),
                    )
                except OSError:
                    continue  # vanished mid-scan — a writer just committed
                if newest > cutoff:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed



"""Stage checkpointing with per-partition lineage manifests (north rule:
"all stages are checkpoint-resumable with per-partition lineage manifests
and row/byte metrics").

Each stage materializes to parquet (stand-in for the Iceberg tables used
on a real cluster — same semantics: atomic snapshot + schema) plus a
manifest JSON recording:

* the stage's input snapshot ids (content fingerprints of its inputs),
* total rows / bytes and an order-insensitive content hash,
* one entry per output partition file with rows + bytes.

``materialize`` skips recomputation when a manifest exists whose input
snapshots match and whose files validate — so a rerun after a crash
resumes from the last good stage, and a rerun with identical inputs is a
no-op (verified bit-stable via the content hash). Content hash =
sum(xxhash64(all columns)) mod 2^63: commutative, so partitioning /
task order can't change it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


def _canonical_cols(schema) -> list:
    """Hashable column list: map columns canonicalized to sorted entry
    arrays (Spark forbids hashing maps — internal order unspecified)."""
    from pyspark.sql.types import MapType

    cols = []
    for f_ in schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return cols


def _thrift_varint(buf: bytes, p: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[p]
        p += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, p
        shift += 7


def _thrift_zigzag(buf: bytes, p: int) -> tuple[int, int]:
    u, p = _thrift_varint(buf, p)
    return (u >> 1) ^ -(u & 1), p


def _thrift_skip(buf: bytes, p: int, ftype: int) -> int:
    """Skip one thrift-compact value of the given wire type."""
    if ftype in (1, 2):  # BOOL_TRUE / BOOL_FALSE: value lives in the nibble
        return p
    if ftype == 3:  # BYTE
        return p + 1
    if ftype in (4, 5, 6):  # I16 / I32 / I64: zigzag varint
        _, p = _thrift_varint(buf, p)
        return p
    if ftype == 7:  # DOUBLE
        return p + 8
    if ftype == 8:  # BINARY: length varint + payload
        ln, p = _thrift_varint(buf, p)
        return p + ln
    if ftype in (9, 10):  # LIST / SET: (size<<4 | elemtype), size 15 -> varint
        head = buf[p]
        p += 1
        size, etype = head >> 4, head & 0x0F
        if size == 0xF:
            size, p = _thrift_varint(buf, p)
        for _ in range(size):
            p = _thrift_skip(buf, p, etype)
        return p
    if ftype == 11:  # MAP: size varint, then (ktype<<4 | vtype) if size
        size, p = _thrift_varint(buf, p)
        if size:
            kv = buf[p]
            p += 1
            kt, vt = kv >> 4, kv & 0x0F
            for _ in range(size):
                p = _thrift_skip(buf, p, kt)
                p = _thrift_skip(buf, p, vt)
        return p
    if ftype == 12:  # STRUCT: fields until STOP
        fid = 0
        while True:
            h = buf[p]
            p += 1
            if h == 0:
                return p
            delta, t = h >> 4, h & 0x0F
            if delta:
                fid += delta
            else:
                fid, p = _thrift_zigzag(buf, p)
            p = _thrift_skip(buf, p, t)
    raise ValueError(f"unknown thrift compact type {ftype}")


def parquet_num_rows(path: str) -> int:
    """Row count of one parquet file read straight from its footer
    (FileMetaData field 3, thrift compact) — no pyarrow, no file-body
    read, no Spark job. Validated against Spark-computed counts in
    tests/test_checkpoint.py."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(size - 8)
        tail = f.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{path}: not a parquet file (bad magic)")
        mlen = int.from_bytes(tail[:4], "little")
        f.seek(size - 8 - mlen)
        buf = f.read(mlen)
    p = 0
    fid = 0
    while p < len(buf):
        h = buf[p]
        p += 1
        if h == 0:
            break
        delta, t = h >> 4, h & 0x0F
        if delta:
            fid += delta
        else:
            fid, p = _thrift_zigzag(buf, p)
        if fid == 3 and t == 6:
            v, _ = _thrift_varint(buf, p)
            return (v >> 1) ^ -(v & 1)
        p = _thrift_skip(buf, p, t)
    raise ValueError(f"{path}: FileMetaData.num_rows not found")


def content_hash(df: DataFrame) -> int:
    """Order-insensitive 63-bit content hash over all columns.

    Map columns are canonicalized to sorted entry arrays first (Spark
    forbids hashing maps because their internal order is unspecified).
    """
    cols = _canonical_cols(df.schema)
    row = df.select(
        F.sum(
            F.pmod(F.xxhash64(*cols), F.lit(2**61 - 1)).cast("decimal(38,0)")
        ).alias("h")
    ).collect()[0]
    return int(row["h"] or 0) % (2**63)


def dir_snapshot(path: str) -> str:
    """Fingerprint of an input directory/file (names + sizes + mtimes)."""
    parts = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{int(st.st_mtime)}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}")
    import zlib

    return format(zlib.crc32("|".join(parts).encode()), "08x")


@dataclass
class StageCheckpoint:
    spark: SparkSession
    base_dir: str
    stats: dict = field(default_factory=dict)

    def _paths(self, name: str) -> tuple[str, str]:
        return (
            os.path.join(self.base_dir, name),
            os.path.join(self.base_dir, f"{name}.manifest.json"),
        )

    def _partition_files(self, data_path: str) -> list[dict]:
        """Per-partition lineage entries, zero Spark jobs: bytes from the
        filesystem, rows from each file's own parquet footer."""
        files = []
        for f in sorted(os.listdir(data_path)):
            if f.endswith(".parquet"):
                full = os.path.join(data_path, f)
                files.append(
                    {"file": f, "bytes": os.path.getsize(full),
                     "rows": parquet_num_rows(full)}
                )
        return files

    def _valid_manifest(self, name: str, input_snapshots: dict) -> dict | None:
        """The stored manifest of ``name`` if it was made from
        ``input_snapshots`` and its files are intact, else None."""
        data_path, manifest_path = self._paths(name)
        if not os.path.exists(manifest_path):
            return None
        try:
            m = json.load(open(manifest_path))
            files_ok = all(
                os.path.getsize(os.path.join(data_path, p["file"])) == p["bytes"]
                for p in m["partitions"]
            )
            if m["input_snapshots"] == input_snapshots and files_ok:
                return m
        except (OSError, KeyError, json.JSONDecodeError):
            pass  # invalid manifest -> recompute
        return None

    def is_current(self, name: str, input_snapshots: dict) -> bool:
        """Whether materialize(name, ..., input_snapshots) would skip."""
        return self._valid_manifest(name, input_snapshots) is not None

    def materialize(
        self,
        name: str,
        df_fn,
        input_snapshots: dict[str, str],
        force: bool = False,
    ) -> DataFrame:
        """Return the stage's DataFrame, computing it only if needed.

        ``df_fn``: zero-arg callable producing the stage DataFrame (lazy,
        so a resumed run never builds the skipped stage's plan).
        ``input_snapshots``: {input_name: snapshot_id} — mismatch with
        the stored manifest forces recomputation (lineage invalidation).
        """
        data_path, manifest_path = self._paths(name)
        m = None if force else self._valid_manifest(name, input_snapshots)
        if m is not None:
            self.stats[name] = {"skipped": True, **m["metrics"]}
            return self.spark.read.parquet(data_path)
        t0 = time.time()
        df = df_fn()
        # metrics ride the WRITE job via observe (guide §1.2: don't pay a
        # second full pass to recount what the write already streamed):
        # rows + content hash are aggregated over exactly the rows
        # written, and per-partition rows come from each output file's
        # own parquet footer — the old read-back metrics job is gone.
        from pyspark.sql import Observation

        obs = Observation()
        cols = _canonical_cols(df.schema)
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.pmod(F.xxhash64(*cols), F.lit(2**61 - 1)).cast("decimal(38,0)")
            ).alias("h"),
        )
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        got = obs.get
        total_rows = int(got["rows"] or 0)
        chash = int(got["h"] or 0) % (2**63)
        partitions = self._partition_files(data_path)
        metrics = {
            "rows": total_rows,
            "bytes": sum(p["bytes"] for p in partitions),
            "content_hash": chash,
            "wall_sec": round(time.time() - t0, 3),
        }
        manifest = {
            "stage": name,
            "created_unix": int(t0),
            "input_snapshots": input_snapshots,
            "metrics": metrics,
            "partitions": partitions,
        }
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1)
        self.stats[name] = {"skipped": False, **metrics}
        return out

    def snapshot_of(self, name: str) -> str:
        """Snapshot id of a previously materialized stage (its content
        hash) — used as the input snapshot of downstream stages."""
        _, manifest_path = self._paths(name)
        m = json.load(open(manifest_path))
        return str(m["metrics"]["content_hash"])

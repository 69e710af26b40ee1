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

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F


def _hash_sum(schema):
    """Aggregate of the content hash: sum of each row's xxhash64 over
    all columns, map columns canonicalized to sorted entry arrays first
    (Spark forbids hashing maps — internal order unspecified). Reduce
    the sum mod 2^63 for the hash."""
    from pyspark.sql.types import MapType

    cols = []
    for f_ in schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return F.sum(
        F.pmod(F.xxhash64(*cols), F.lit(2**61 - 1)).cast("decimal(38,0)")
    )


def parquet_num_rows(path: str) -> int:
    """Row count of one parquet file from its footer — no file-body
    read, no Spark job."""
    return pq.read_metadata(path).num_rows


def content_hash(df: DataFrame) -> int:
    """Order-insensitive 63-bit content hash over all columns."""
    row = df.select(_hash_sum(df.schema).alias("h")).collect()[0]
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
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            _hash_sum(df.schema).alias("h"),
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

"""Iceberg-style checkpoint sink (SURVEY §2 rows S3, S7).

No Iceberg runtime jar exists in this sandbox (SURVEY §0), so this implements
the same contract — atomic snapshot commits with per-partition lineage +
metrics, resumable — as parquet data files plus JSON manifests committed via
atomic rename. When a real Iceberg catalog is on the classpath, the layout
maps 1:1 (manifest == Iceberg snapshot metadata).

Layout:
    <root>/<run_id>/<algo>/iter=<k>/           parquet state files (Spark write)
    <root>/<run_id>/<algo>/_manifests/<k>.json atomic commit marker:
        {iter, schema, files: [{path, rows, bytes}], metrics, run_id, algo}

Commit protocol (write-behind): `commit()` materializes the step with
`localCheckpoint(eager=True)` — this fires the caller's Observations and
truncates the logical plan (SURVEY §4.3.1) — then waits for the PREVIOUS
iteration's publish, re-raising its error if it failed, and hands the
materialized frame to one background `InheritableThread`, which (1) writes
it as parquet to `iter=<k>/` (overwrite), (2) assembles the manifest from
the files in the store (per-partition lineage: one entry per parquet part
file with its row count from the footer) and (3) writes the manifest JSON
to a tmp name and renames it — rename-to-fresh-path is atomic on POSIX and
HDFS, so a manifest either exists fully or not at all. `commit()` returns
the in-memory frame, so the next iteration computes while this one
publishes; at most one publish is in flight. The thread inherits the
caller's Spark local properties, so its jobs land in the caller's job
group. `amend_metrics` for the iteration being published is queued and
applied by the writer after version 0. `flush()` waits for the in-flight
publish and re-raises its error; `latest`, `read_state`, `read_manifest`
and `metrics_history` flush first, and every algorithm flushes before it
returns, so a fresh manager sees the final iteration once the call is
back.

Memory: the materialized state lives in executor block storage until the
algorithm drops it — the same footprint as the `checkpoint_interval>1`
path, which localCheckpoints the iterations it does not commit.

Crash semantics: `latest()` ignores data dirs without manifests, so a crash
at any point loses at most the one in-flight iteration; resume restarts from
the previous published one [BASELINE.json:14]. `read_state` reads exactly
the manifest's files with the manifest's schema — no directory listing, no
schema-inference job, and stray files in a data dir are never read.

Cluster-real filesystem handling: ALL fs operations route through
scalemine_spark.fsio (POSIX fast path for local roots; Hadoop FileSystem API
for file://, hdfs://, s3a://, ... — the footer read is a range read over
FSDataInputStream, never a full download).
"""

from __future__ import annotations

import json
import posixpath
import re
import threading
import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from scalemine_spark.fsio import fs_for

# 000004.json (version 0) / 000004.v2.json (2nd amend). Amends write a NEW
# versioned name instead of rewriting in place: rename-to-fresh-path is
# atomic on POSIX/HDFS and safe even on S3A-style copy+delete renames —
# readers always see SOME complete manifest for a committed iteration (the
# previous version survives until the new one is fully visible).
_MANIFEST_RE = re.compile(r"^(\d{6})(?:\.v(\d+))?\.json$")

_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_read(schema_json):
    """The schema JSON as Spark reads parquet back: every field and nested
    element nullable (file sources drop non-null constraints on read)."""
    if isinstance(schema_json, dict):
        return {
            k: True if k in _NULLABLE_KEYS else _as_read(v)
            for k, v in schema_json.items()
        }
    if isinstance(schema_json, list):
        return [_as_read(v) for v in schema_json]
    return schema_json


class CheckpointManager:
    def __init__(self, root: str, run_id: str, algo: str):
        self.root = root
        self.run_id = run_id
        self.algo = algo
        self.base = posixpath.join(root, run_id, algo)
        self.manifest_dir = posixpath.join(self.base, "_manifests")
        self._fs = fs_for(root)
        self._fs.makedirs(self.manifest_dir)
        # write-behind state: the in-flight publish, its error, and the
        # amends queued for it (`_open` = iteration still taking amends)
        self._lock = threading.Lock()
        self._publisher: InheritableThread | None = None
        self._error: BaseException | None = None
        self._open: int | None = None
        self._amends: list[dict[str, float]] = []

    # -- paths -------------------------------------------------------------
    def data_dir(self, it: int) -> str:
        return posixpath.join(self.base, f"iter={it}")

    def manifest_path(self, it: int, version: int = 0) -> str:
        name = f"{it:06d}.json" if version == 0 else f"{it:06d}.v{version}.json"
        return posixpath.join(self.manifest_dir, name)

    def _versions(self) -> dict[int, list[int]]:
        """iter -> sorted list of manifest versions present in the store."""
        out: dict[int, list[int]] = {}
        if not self._fs.isdir(self.manifest_dir):
            return out
        for name in self._fs.listdir(self.manifest_dir):
            m = _MANIFEST_RE.match(name)
            if m:
                out.setdefault(int(m.group(1)), []).append(int(m.group(2) or 0))
        for vs in out.values():
            vs.sort()
        return out

    # -- commit ------------------------------------------------------------
    def commit(self, it: int, state: DataFrame, metrics: dict[str, float]) -> DataFrame:
        """Materialize iteration `it` and publish it write-behind (module
        docstring); returns the materialized state (fresh lineage).

        Raises the error of the previous iteration's publish, if it failed."""
        state = state.localCheckpoint(eager=True)
        self.flush()
        with self._lock:
            self._open, self._amends = it, []
        self._publisher = InheritableThread(
            target=self._publish, args=(it, state, metrics)
        )
        self._publisher.start()
        return state

    def _publish(self, it: int, state: DataFrame, metrics: dict[str, float]) -> None:
        """Background writer: parquet, manifest v0, then the queued amends."""
        try:
            ddir = self.data_dir(it)
            state.write.mode("overwrite").parquet(ddir)
            files = []
            for name in sorted(self._fs.listdir(ddir)):
                if not name.endswith(".parquet"):
                    continue
                fp = posixpath.join(ddir, name)
                files.append(
                    {
                        "path": fp,
                        "rows": self._fs.parquet_num_rows(fp),
                        "bytes": self._fs.getsize(fp),
                    }
                )
            manifest = {
                "run_id": self.run_id,
                "algo": self.algo,
                "iter": it,
                "schema": json.dumps(_as_read(state.schema.jsonValue())),
                "files": files,
                "row_count": sum(f["rows"] for f in files),
                "metrics": {k: float(v) for k, v in metrics.items()},
                "committed_at_unix": time.time(),
            }
            self._fs.write_bytes_atomic(
                self.manifest_path(it), json.dumps(manifest, indent=1).encode()
            )
            while True:
                with self._lock:
                    if not self._amends:
                        self._open = None  # later amends go synchronous
                        return
                    amend = self._amends.pop(0)
                self._write_amend(it, amend)
        except BaseException as exc:  # re-raised by flush() on the caller
            self._error = exc
        finally:
            with self._lock:
                self._open = None

    def flush(self) -> None:
        """Wait for the in-flight publish; re-raise its error (once)."""
        if self._publisher is not None:
            self._publisher.join()
            self._publisher = None
        err, self._error = self._error, None
        if err is not None:
            raise err

    def amend_metrics(self, it: int, metrics: dict[str, float]) -> None:
        """Merge metrics into an already-committed manifest by writing the
        NEXT manifest version to a fresh name (never an in-place rewrite —
        see _MANIFEST_RE note). Readers pick the highest complete version;
        the iteration stays visibly committed at every instant, on every
        store rename semantics (POSIX, HDFS, S3A copy+delete). An amend of
        the iteration still being published is queued for its writer."""
        with self._lock:
            if self._open == it:
                self._amends.append(metrics)
                return
        self.flush()
        self._write_amend(it, metrics)

    def _write_amend(self, it: int, metrics: dict[str, float]) -> None:
        versions = self._versions().get(it, [0])
        m = self._read_manifest(it)
        m["metrics"].update({k: float(v) for k, v in metrics.items()})
        self._fs.write_bytes_atomic(
            self.manifest_path(it, versions[-1] + 1), json.dumps(m, indent=1).encode()
        )

    # -- resume ------------------------------------------------------------
    def latest(self) -> int | None:
        """Max committed iteration (valid manifest + data present), else None."""
        return self.latest_below(None)

    def latest_below(self, stop: int | None) -> int | None:
        """Max committed iteration below `stop` (any when None), else None."""
        self.flush()
        best = None
        for it, versions in self._versions().items():
            if stop is not None and it >= stop:
                continue
            # any complete version proves the commit; prefer the newest,
            # fall back past a torn amend to an older complete one
            for v in reversed(versions):
                try:
                    m = json.loads(self._fs.read_bytes(self.manifest_path(it, v)))
                    if all(self._fs.exists(f["path"]) for f in m["files"]):
                        best = it if best is None else max(best, it)
                    break
                except (json.JSONDecodeError, KeyError, OSError):
                    continue  # torn/corrupt manifest version — try older
        return best

    def read_manifest(self, it: int) -> dict:
        """Highest complete manifest version for `it` (amends supersede)."""
        self.flush()
        return self._read_manifest(it)

    def _read_manifest(self, it: int) -> dict:
        for v in reversed(self._versions().get(it, [0])):
            try:
                return json.loads(self._fs.read_bytes(self.manifest_path(it, v)))
            except (json.JSONDecodeError, OSError):
                continue
        raise FileNotFoundError(f"no readable manifest for iter {it}")

    def read_state(self, spark: SparkSession, it: int) -> DataFrame:
        """Committed state of `it`: exactly the manifest's files, read with
        the manifest's schema (no listing, no schema-inference job)."""
        m = self.read_manifest(it)
        schema = StructType.fromJson(json.loads(m["schema"]))
        return spark.read.schema(schema).parquet(*(f["path"] for f in m["files"]))

    def metrics_history(self) -> list[dict]:
        """S7 — per-iteration metrics rows, ordered by iter."""
        out = []
        it = self.latest()
        if it is None:
            return out
        for k in range(it + 1):
            if self._fs.exists(self.manifest_path(k)):
                m = self.read_manifest(k)
                out.append({"iter": k, "row_count": m["row_count"], **m["metrics"]})
        return out

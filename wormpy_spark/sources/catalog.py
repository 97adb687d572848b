"""Snapshot catalog shim (T6 resumability; SURVEY.md §7.5-4).

The design target is Iceberg: one atomic snapshot per crawl round
committing {frontier, seen, pages, host_state, metrics} together.
The sandbox has no iceberg-spark-runtime jar, so this shim reproduces
the snapshot semantics over parquet + an atomically-swapped JSON
manifest (write tmp → os.replace). The API is backend-neutral: when
the Iceberg jar is present a real catalog can implement the same three
methods and the engine code does not change.

Layout:
    <root>/<table>/snap-<round:06d>/*.parquet
    <root>/_manifest.json   {"round": r, "tables": {...}, "state": {...},
                             "history": [...]}

Per-partition lineage (north_rule): every pages snapshot carries the
columns (round, host_shard) the crawl loop stamps on its due rows, so
any pages row is traceable to the round and host shard that fetched
it; a frontier snapshot is traceable to its round by its path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    MANIFEST = "_manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def latest_round(self) -> int | None:
        m = self.read_manifest()
        return None if m is None else m["round"]

    # -- staged write + atomic commit ----------------------------------------
    def table_path(self, name: str, round_id: int) -> str:
        return os.path.join(self.root, name, f"snap-{round_id:06d}")

    def write_table(self, name: str, round_id: int, df: DataFrame) -> str:
        """Stage one table's snapshot for a round. Invisible to readers
        until ``commit`` swaps the manifest."""
        path = self.table_path(name, round_id)
        df.write.mode("overwrite").parquet(path)
        return path

    def commit(self, round_id: int, table_paths: dict[str, str], state: dict) -> None:
        """Atomically publish a round: manifest tmp-write + os.replace —
        a reader never observes a half-committed round. Each history
        record carries the round's full {tables, state}, so any
        committed snapshot stays addressable (time travel) and the
        catalog can roll back to it."""
        prev = self.read_manifest()
        history = (prev or {}).get("history", [])
        history.append(
            {
                "round": round_id,
                "committed_at": time.time(),
                "tables": table_paths,
                "state": state,
            }
        )
        manifest = {
            "round": round_id,
            "tables": table_paths,
            "state": state,
            "history": history,
        }
        self._swap_manifest(manifest)

    def _swap_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())

    def rounds(self) -> list[int]:
        m = self.read_manifest()
        return [] if m is None else [h["round"] for h in m["history"]]

    def _history_record(self, round_id: int) -> dict | None:
        m = self.read_manifest()
        if m is None:
            return None
        for h in m["history"]:
            if h["round"] == round_id:
                return h
        return None

    def read(self, spark: SparkSession, name: str, round_id: int | None = None) -> DataFrame:
        """Read a table at the current snapshot, or time-travel to any
        committed round (the Iceberg ``VERSION AS OF`` analogue)."""
        m = self.read_manifest()
        if m is None:
            raise FileNotFoundError(f"no snapshot manifest under {self.root}")
        if round_id is None or round_id == m["round"]:
            return spark.read.parquet(m["tables"][name])
        rec = self._history_record(round_id)
        if rec is not None and "tables" in rec:
            return spark.read.parquet(rec["tables"][name])
        # pre-time-travel manifests: resolve by the path convention
        return spark.read.parquet(
            os.path.join(self.root, name, f"snap-{round_id:06d}")
        )

    def state(self, round_id: int | None = None) -> dict:
        m = self.read_manifest()
        if m is None:
            return {}
        if round_id is None or round_id == m["round"]:
            return m["state"]
        rec = self._history_record(round_id)
        if rec is None or "state" not in rec:
            raise KeyError(f"no committed state for round {round_id}")
        return rec["state"]

    def rollback(self, round_id: int) -> None:
        """Atomically restore the catalog head to an earlier committed
        round (the Iceberg snapshot-rollback analogue): later rounds
        disappear from the history, their files stay on disk (untracked,
        like orphaned snapshots awaiting expiry), and a resumed crawl
        continues from the restored round exactly as if the later
        rounds never ran."""
        m = self.read_manifest()
        if m is None:
            raise FileNotFoundError(f"no snapshot manifest under {self.root}")
        rec = self._history_record(round_id)
        if rec is None or "tables" not in rec:
            raise KeyError(f"round {round_id} has no committed snapshot record")
        history = [h for h in m["history"] if h["round"] <= round_id]
        self._swap_manifest(
            {
                "round": round_id,
                "tables": rec["tables"],
                "state": rec["state"],
                "history": history,
            }
        )

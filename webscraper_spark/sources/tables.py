"""Round-versioned table store — Iceberg-shaped semantics on parquet dirs.

The reference persists state as whole-file rewrites (JSON read-modify-write
append, ``Glassdoor_url_finder.py:195-217``) and uses file *existence* as a
checkpoint barrier (``LinkedIn-Updated-Script.py:188-194``,
``Main_Runner.py:19-27``). The engine replaces both with atomic
table-commit semantics:

- every table is a directory of ``round=K`` parquet partitions;
- ``snapshot`` tables (frontier, hosts) write a full state per round,
  read = latest committed round (Iceberg analog: snapshot);
- ``delta`` tables (seen, fetched, metrics, lineage) append a partition
  per round, read = union of committed rounds (Iceberg analog: append;
  round-partition pruning makes per-round reads cheap);
- a round is **committed** only when the manifest JSON is atomically
  renamed into place *after* all its table writes finished. Resume reads
  the manifest and ignores any partial ``round=K`` directories from a
  crashed round — re-running round K overwrites them idempotently
  (insert-overwrite-partition semantics).

The sandbox has no Iceberg jars, so this layer emulates the subset we
need (snapshot isolation per round, MERGE expressed as
anti-join + union + overwrite). On a real cluster the same call sites map
onto Iceberg: snapshot → table snapshot, delta append → ``append()``,
upsert → ``MERGE INTO``, manifest → Iceberg's own metadata commit.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class TableStore:
    SNAPSHOT = "snapshot"
    DELTA = "delta"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- manifest --------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"committed_rounds": [], "lineage": {}}
        with open(p) as f:
            return json.load(f)

    def last_committed_round(self) -> int | None:
        rounds = self.read_manifest()["committed_rounds"]
        return max(rounds) if rounds else None

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    def commit_round(self, round_no: int, lineage: dict | None = None) -> None:
        """Atomic commit: manifest tmp-write + rename AFTER all writes.
        A crash before this line leaves round K invisible (resume re-runs
        it); after this line round K is durable."""
        m = self.read_manifest()
        if round_no not in m["committed_rounds"]:
            m["committed_rounds"].append(round_no)
        m["committed_rounds"].sort()
        if lineage is not None:
            m.setdefault("lineage", {})[str(round_no)] = lineage
        self._write_manifest(m)

    # --- writes ----------------------------------------------------------

    def _part_dir(self, name: str, round_no: int) -> str:
        return os.path.join(self.root, name, f"round={round_no}")

    def write(self, name: str, df: DataFrame, round_no: int) -> None:
        """Idempotent insert-overwrite of one round partition."""
        path = self._part_dir(name, round_no)
        if os.path.exists(path):
            shutil.rmtree(path)  # re-run of an uncommitted round
        df.write.mode("overwrite").parquet(path)

    def _base_dir(self, name: str, round_no: int) -> str:
        return os.path.join(self.root, name, f"base={round_no}")

    def compact(self, name: str, up_to: int | None = None,
                target_partitions: int = 8) -> int | None:
        """Small-file compaction for a DELTA table: rewrite all committed
        round partitions ≤ ``up_to`` (default: everything committed) into
        one ``base=K`` partition with ``target_partitions`` files.

        After 1000s of crawl rounds a delta table is 1000s of small
        round directories — at 100 TB that is a metadata/open-file
        bottleneck on every read. Compaction is the Iceberg
        ``rewrite_data_files`` analog for this parquet-dir emulation.

        Crash-safe protocol (readers never see a partial state):
          1. write the union to ``base=K`` (readers ignore it — the
             manifest still routes them to the old parts);
          2. atomically flip ``manifest.compacted[name] = K`` (reads now
             go to the base + rounds > K);
          3. delete the superseded round dirs and any older base
             (pure cleanup — a crash here leaves orphans readers skip).

        Read semantics afterwards: ``read_delta`` is unchanged;
        ``read_round``/``read_delta(up_to < K)`` cannot time-travel below
        the base (``read_round`` returns None, ``read_delta`` raises)."""
        m = self.read_manifest()
        rounds = [r for r in m["committed_rounds"] if up_to is None or r <= up_to]
        if not rounds:
            return None
        k = max(rounds)
        prev_base = m.get("compacted", {}).get(name)
        if prev_base is not None and prev_base >= k:
            return prev_base  # nothing newer to fold in
        df = self.read_delta(name, up_to=k)
        if df is None:
            return None
        base = self._base_dir(name, k)
        if os.path.exists(base):
            shutil.rmtree(base)
        df.repartition(target_partitions).write.mode("overwrite").parquet(base)
        m = self.read_manifest()
        m.setdefault("compacted", {})[name] = k
        self._write_manifest(m)  # ← the atomic flip
        for r in rounds:  # cleanup (crash-tolerant: orphans are skipped)
            p = self._part_dir(name, r)
            if os.path.exists(p):
                shutil.rmtree(p)
        if prev_base is not None and prev_base != k:
            shutil.rmtree(self._base_dir(name, prev_base), ignore_errors=True)
        return k

    # --- reads (committed data only) -------------------------------------

    def _committed_parts(self, name: str, up_to: int | None = None) -> list[str]:
        m = self.read_manifest()
        rounds = m["committed_rounds"]
        if up_to is not None:
            rounds = [r for r in rounds if r <= up_to]
        parts: list[str] = []
        base = m.get("compacted", {}).get(name)
        if base is not None and rounds:
            if up_to is not None and base > up_to:
                raise ValueError(
                    f"table {name!r} is compacted through round {base}; "
                    f"cannot time-travel to up_to={up_to}"
                )
            parts.append(self._base_dir(name, base))
            rounds = [r for r in rounds if r > base]
        parts += [
            self._part_dir(name, r)
            for r in rounds
            if os.path.exists(self._part_dir(name, r))
        ]
        return parts

    def read_snapshot(self, name: str, up_to: int | None = None) -> DataFrame | None:
        """Latest committed full-state partition (frontier/hosts)."""
        parts = self._committed_parts(name, up_to)
        if not parts:
            return None
        return self.spark.read.parquet(parts[-1])

    def read_delta(self, name: str, up_to: int | None = None) -> DataFrame | None:
        """Union of committed append partitions (seen/fetched/metrics)."""
        parts = self._committed_parts(name, up_to)
        if not parts:
            return None
        return self.spark.read.parquet(*parts)

    def part_path(self, name: str, round_no: int) -> str:
        """Filesystem path of one round partition (committed or not) —
        for sources that stage data into the round BEFORE it commits
        (e.g. incremental WARC ingest)."""
        return self._part_dir(name, round_no)

    def read_round(self, name: str, round_no: int) -> DataFrame | None:
        path = self._part_dir(name, round_no)
        if round_no not in self.read_manifest()["committed_rounds"]:
            return None
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)


def merge_upsert(
    target: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S10 upsert as a relational MERGE: matched rows are replaced by the
    update, unmatched target rows survive, unmatched updates insert.
    (Reference: per-row lookup-then-PATCH-else-POST,
    ``glassdoor-script.js:460-477`` — an N+1 loop; here it is one
    set-at-a-time anti-join + union, Iceberg ``MERGE INTO`` shape.)"""
    kept = target.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    return kept.unionByName(updates.select(*target.columns))

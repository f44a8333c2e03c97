"""Checkpoint-commit seam: where a table format's snapshot commit replaces
the JSON checkpoint file (round-3 verdict item 7; SURVEY §1.3's Iceberg
promise).

The engine's crash-safety contract is exactly one primitive: "state files
written first, ONE atomic pointer swap last" (`CrawlEngine._commit` -> the
store's commit()). Everything else (seen appends, frontier fold, LSM
delta/tombstone log, bloom shard manifest) is plain data referenced BY the
committed pointer, so swapping the pointer implementation swaps the whole
durability story. An iteration writes each table once: an append, or, on
a compaction iteration, the compacted table itself (never an append
followed by a rewrite of it):

  filesystem (default)          Iceberg (production catalog)
  --------------------------    ------------------------------------------
  ckpt_{k}.json os.replace()    snapshot commit: the catalog's atomic
                                metadata-pointer CAS plays the role of
                                os.replace()
  seen/iter=k appends           fast-append snapshots on the `seen` table
  seen/compact_k (compaction    overwrite snapshot (seen ∪ new rows) on
    iteration: no seen/iter=k)    `seen` + expire_snapshots
  frontier base_v{k} fold       overwrite snapshot (RTAS) on `frontier`;
    (small frontier, or a         on a compaction iteration it replaces
    compaction iteration)         the `frontier_log` too
  frontier log_v{k} add/tomb    fast-append to `frontier_log`
  orphan dirs after a crash     uncommitted snapshots, expired by
                                maintenance — same "redo is safe" story

`IcebergCheckpointStore` is the working adapter for a session that has an
Iceberg catalog configured (spark.sql.catalog.<name> = …SparkCatalog); it
keeps one append-only checkpoints table and resumes from MAX(iter). This
sandbox has no Iceberg runtime jars, so constructing it here raises with
that diagnosis — the class is exercised by tests up to that boundary, and
the engine-facing seam itself is proven by MemoryCheckpointStore (resume
through a non-filesystem store, tests/test_frontier.py).
"""

from __future__ import annotations

import json
import os


class JsonCheckpointStore:
    """Default store: one JSON file per iteration under
    <state_dir>/checkpoints, committed with an atomic rename."""

    def __init__(self, state_dir: str):
        self.dir = os.path.join(state_dir, "checkpoints")
        os.makedirs(self.dir, exist_ok=True)

    def last(self) -> dict | None:
        names = sorted(n for n in os.listdir(self.dir) if n.startswith("ckpt_"))
        if not names:
            return None
        with open(os.path.join(self.dir, names[-1])) as f:
            return json.load(f)

    def commit(self, ck: dict) -> None:
        """Atomic commit point: state written first, checkpoint renamed
        last."""
        path = os.path.join(self.dir, f"ckpt_{ck['iter']:06d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ck, f)
        os.replace(tmp, path)


class MemoryCheckpointStore:
    """In-process store for tests: proves the engine's resume path runs
    entirely through the seam (no hidden reads of ckpt_*.json)."""

    def __init__(self):
        self.commits: list[dict] = []

    def last(self) -> dict | None:
        return self.commits[-1] if self.commits else None

    def commit(self, ck: dict) -> None:
        self.commits.append(json.loads(json.dumps(ck)))  # committed = frozen


class IcebergCheckpointStore:
    """Checkpoint pointer as an Iceberg table: every commit() is one
    append snapshot on an `(iter BIGINT, payload STRING)` table, and
    last() resumes from the row with MAX(iter). The catalog's atomic
    metadata swap provides exactly the crash-safety os.replace() provides
    for JsonCheckpointStore — a crash between state writes and commit()
    leaves orphan data snapshots that the next run never references.

    Requires a session with an Iceberg catalog (e.g.
    spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog); the
    constructor probes for it and raises a diagnosis when the runtime
    lacks the Iceberg extension jars (this sandbox does)."""

    def __init__(self, spark, table: str = "crawl.state.checkpoints"):
        self.spark = spark
        self.table = table
        catalog = table.split(".", 1)[0]
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"IcebergCheckpointStore needs an Iceberg catalog: set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark."
                f"SparkCatalog (plus warehouse/uri) and ship the "
                f"iceberg-spark-runtime jar; this session has no such "
                f"catalog configured"
            )
        ns = table.rsplit(".", 1)[0]
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} "
            f"(iter BIGINT, payload STRING) USING iceberg"
        )

    def last(self) -> dict | None:
        rows = self.spark.sql(
            f"SELECT payload FROM {self.table} ORDER BY iter DESC LIMIT 1"
        ).collect()
        return json.loads(rows[0]["payload"]) if rows else None

    def commit(self, ck: dict) -> None:
        # one-row append = one snapshot commit (the atomic pointer swap)
        self.spark.createDataFrame(
            [(int(ck["iter"]), json.dumps(ck))], "iter bigint, payload string"
        ).writeTo(self.table).append()

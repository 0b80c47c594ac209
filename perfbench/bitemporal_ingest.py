"""bitemporal_ingest: transactions with reads of their own writes.

Store: a ``Node`` with a document schema whose ``TxStore`` writes a JSONL
tx-log, checkpointed to a ``CheckpointStore`` every fourth cycle. Set-up
pre-loads it through ``TxStore.bulk_ingest``.

Op: one ingest cycle, closed loop, one client: ``submit_tx`` of a seeded
batch and ``await_tx`` (the write), then ``entity`` and ``entity_history`` of
an entity the batch touched and an as-of Datalog query at an earlier valid
time (three reads). ``await_tx`` clears the node's plan cache, so every
as-of read builds a fresh catalog and compiles again. A round is four
consecutive cycles: three all-put batches and one that mixes deletes,
back-dated puts and a ``match``; one of the four also checkpoints. Every
read, and each batch's commit or abort, is checked against
:class:`model.StoreModel`.
"""

from __future__ import annotations

import datetime as dt
import os

import gen
from model import StoreModel

ENTITIES = 10_000
VERSIONS = 3
BATCH = 64
BATCHES = 200
# per-layer metrics of layers this workload never calls (printed as 0)
BYPASSED = {
    "textops.quality_s", "dedup.exact_s", "dedup.minhash_s", "dedup.clusters_s",
    "text_search.query_s", "dedup.minhash_pairs", "dedup.minhash_recall",
}
CYCLES_PER_ROUND = 4
CHECKPOINT_EVERY = 4  # cycles 0, 4, 8, ... also checkpoint
DOC_COLS = ["name", "grp", "score", "tag"]
ASOF_QUERY = {"find": ["?e", "?s"], "in": ["?g"],
              "where": [["?e", ":grp", "?g"], ["?e", ":score", "?s"]]}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Workload:
    def __init__(self, bench):
        self.b = bench
        self.dir = os.path.join(bench.work, "ingest")
        self.ckpt_bytes: list[int] = []
        self.submitted_ops = 0
        self.next_cycle = 0
        self.entities, self.versions, self.batch = ENTITIES, VERSIONS, BATCH

    def prepare(self) -> None:
        import pandas as pd

        os.makedirs(self.dir)
        rows = gen.user_docs(self.b.seed, self.entities, self.versions)
        pdf = pd.DataFrame({
            "eid": [r[0] for r in rows],
            "vf": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "txid": [r[2] for r in rows],
            **{c: [r[3][c] for r in rows] for c in DOC_COLS},
        })
        self.users = os.path.join(self.dir, "users.parquet")
        pdf.to_parquet(self.users)
        self.batches = gen.ingest_batches(self.b.seed, self.entities, BATCHES, self.batch)
        self.model = StoreModel()
        self.model.preload(rows, DOC_COLS)
        self.b.info["inputs"] = {
            "entities_start": self.entities, "versions_per_entity": self.versions,
            "preload_puts": len(rows), "batch_ops": self.batch,
        }

    def build(self, i: int) -> None:
        """A fresh node whose store is pre-loaded from the users file."""
        from crux_spark.bitemporal.checkpoint import CheckpointStore
        from crux_spark.bitemporal.store import TxStore
        from crux_spark.node import Node

        b = self.b
        node = Node(b.spark, schema=gen.INGEST_SCHEMA)
        node.store = TxStore(b.spark, wal_path=os.path.join(self.dir, f"log-{i}.jsonl"))
        self.cp = CheckpointStore(os.path.join(self.dir, f"cp-{i}"), approx_frequency=0)
        with b.tracer.span("store.bulk_ingest"):
            node.store.bulk_ingest(b.spark.read.parquet(self.users), "eid",
                                   DOC_COLS, "vf", tx_id_expr="txid")
        with b.tracer.span("catalog.load"):
            node.db().catalog()
        self.node = node

    def expect(self) -> None:
        self.wal = self.node.store.wal_path
        self.versions_start = self.node.store.versions.count()
        self.b.info["inputs"]["versions_start"] = self.versions_start

    def round(self, i: int) -> None:
        for _ in range(CYCLES_PER_ROUND):
            self.cycle()

    def cycle(self) -> None:
        k = self.next_cycle
        self.next_cycle += 1
        b, node, batch = self.b, self.node, self.batches[k]
        checkpoint = k % CHECKPOINT_EVERY == 0
        eid = batch["read_eid"]
        vt = batch["tx_time"] - batch["asof_back"]
        aborted = None
        with b.op("cycle", "mixed" if batch["mixed"] else "put") as op:
            with b.part(op, "write"):
                with b.tracer.span("store.submit"):
                    tx = node.submit_tx(batch["ops"], batch["tx_time"])
                with b.tracer.span("store.commit"):
                    aborted = node.await_tx()
                if checkpoint:
                    with b.tracer.span("checkpoint"):
                        meta = self.cp.checkpoint(node.store, force=True)
                        self.cp.cleanup(keep=2)
                    self.ckpt_bytes.append(_dir_bytes(meta["dir"]))
            db = node.db()
            with b.part(op, "read:entity"), b.tracer.span("store.entity"):
                ent = db.entity(eid)
            with b.part(op, "read:history"), b.tracer.span("store.history"):
                hist = db.entity_history(eid)
            with b.part(op, "read:asof"), b.tracer.span("store.asof_q"):
                adb = node.db(valid_time=vt)
                with b.tracer.span("catalog.from_store"):
                    adb.catalog()
                with b.tracer.span("datalog.build"):
                    df = adb.q(ASOF_QUERY, batch["asof_grp"])
                rows = b.collect(df)
        if aborted is None:
            return  # the write failed; op.error names it
        # the model follows every completed write, so a failed read does
        # not make later checks fail too
        self.submitted_ops += len(batch["ops"])
        ok = self.model.apply_tx(tx, batch["tx_time"], batch["ops"])
        if ok:
            op.size = sum(1 for o in batch["ops"] if o[0] == "put")
        if (tx in aborted) == ok:
            op.fail(f"tx {tx} {'aborted' if ok else 'committed'}; the model says otherwise")
        elif op.error is not None:
            return
        elif ent != self.model.entity(eid, dt.datetime.now(dt.timezone.utc)):
            op.fail(f"entity({eid}) differs from the model")
        elif hist != self.model.entity_history(eid):
            op.fail(f"entity_history({eid}) differs from the model")
        elif {(r[0], r[1]) for r in rows} != self.model.group_scores(batch["asof_grp"], vt):
            op.fail(f"as-of query at {vt} differs from the model")

    def detail(self) -> dict:
        b = self.b
        out: dict = {}
        b.latency("op", [o.wall for o in b.ok_ops()], out)
        b.latency("write", b.part_walls("write"), out)
        wall = sum(o.wall for o in b.timed_ops())
        out["docs_per_s"] = sum(o.size for o in b.ok_ops()) / wall
        versions_end = self.node.store.versions.count()
        b.info["inputs"]["versions_end"] = versions_end
        ops = max(self.submitted_ops, 1)
        b.layers.update({
            "store.versions_rows": versions_end,
            "store.versions_per_op": (versions_end - self.versions_start) / ops,
            "txlog.bytes_per_op": os.path.getsize(self.wal) / ops,
            "checkpoint.count": len(self.ckpt_bytes),
            "checkpoint.bytes": sum(self.ckpt_bytes) / max(len(self.ckpt_bytes), 1),
        })
        return out

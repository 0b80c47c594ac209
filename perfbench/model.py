"""Pure-Python model of the bitemporal store, built on the reference splice
algebra (``crux_spark.bitemporal.splice``), against which every
read-after-write of ``bitemporal_ingest`` is checked.

The model holds one version list per entity and applies each transaction's
ops in order; a transaction whose ``match`` fails applies nothing.
"""

from __future__ import annotations

import datetime as dt

from crux_spark.bitemporal import splice
from crux_spark.bitemporal.docjson import doc_loads
from crux_spark.bitemporal.splice import END_OF_TIME, END_OF_TX, to_us

LATEST = END_OF_TX - 1


class StoreModel:
    def __init__(self):
        self.hist: dict[str, list] = {}
        self._docs: dict[str, dict] = {}

    def _doc(self, doc_json: str) -> dict:
        d = self._docs.get(doc_json)
        if d is None:
            d = self._docs[doc_json] = doc_loads(doc_json)
        return d

    def preload(self, rows: list[tuple], doc_cols: list[str]) -> None:
        """Bulk-ingested puts ``(eid, valid_from, tx_id, doc)``: tx time is
        the valid time and the stored doc holds only ``doc_cols``."""
        for eid, vf, tx_id, doc in sorted(rows, key=lambda r: r[2]):
            body = {c: doc[c] for c in doc_cols}
            self.hist[eid] = splice.put(self.hist.get(eid, []), body, tx_id, vf, vf)

    def apply_tx(self, tx_id: int, tx_time: dt.datetime, ops: list) -> bool:
        """Apply one transaction; returns False when it aborts."""
        touched: dict[str, list] = {}

        def h(eid):
            if eid not in touched:
                touched[eid] = list(self.hist.get(eid, []))
            return touched[eid]

        for op in ops:
            if op[0] == "put":
                eid = op[1]["id"]
                vf = op[2] if len(op) > 2 else None
                touched[eid] = splice.put(h(eid), op[1], tx_id, tx_time, vf)
            elif op[0] == "delete":
                vf = op[2] if len(op) > 2 else None
                touched[op[1]] = splice.delete(h(op[1]), tx_id, tx_time, vf)
            elif op[0] == "match":
                if not splice.matches(h(op[1]), op[2], tx_time, tx=tx_id):
                    return False
            else:
                raise ValueError(f"op {op[0]!r} is not modelled")
        self.hist.update(touched)
        return True

    def entity(self, eid: str, vt: dt.datetime) -> dict | None:
        v = splice.as_of(self.hist.get(eid, []), vt, LATEST)
        return None if v is None else doc_loads(v.doc_json)

    def entity_history(self, eid: str) -> list[dict]:
        return [
            {
                "valid_from": splice.from_us(v.valid_from),
                "valid_to": None if v.valid_to == END_OF_TIME else splice.from_us(v.valid_to),
                "tx_from": v.tx_from,
                "doc": None if v.doc_json is None else doc_loads(v.doc_json),
                "deleted": v.deleted,
            }
            for v in splice.entity_history(self.hist.get(eid, []))
        ]

    def group_scores(self, grp: int, vt: dt.datetime) -> set[tuple[str, int]]:
        """``(eid, score)`` of every entity visible at ``vt`` with
        ``grp``: the answer of the as-of Datalog read."""
        vt_us = to_us(vt)
        out = set()
        for eid, hist in self.hist.items():
            for r in hist:
                if (r.valid_from <= vt_us < r.valid_to and r.tx_to == END_OF_TX
                        and not r.deleted):
                    d = self._doc(r.doc_json)
                    if d.get("grp") == grp:
                        out.add((eid, d["score"]))
                    break
        return out

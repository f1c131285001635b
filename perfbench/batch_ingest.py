"""batch_ingest: executor-side batch work and the write path.

One pass runs the TPC-H-side operations (``tpch_ops``: the Q3 shape and
an as-of join over a seeded sf0.05 replica) and then the document-side
operations
(``doc_ops``: SemDeDup, MinHash reference index build and save, a
streaming dedup drain, index append and save over a seeded corpus with
planted near-duplicates).  Shuffles,
joins, Arrow Python workers, driver loops and writes dominate; almost
nothing here is façade plan building.
"""

from __future__ import annotations

from doc_ops import DocOps
from tpch_ops import TpchOps


class BatchIngest:
    kind = "batch"
    size = {"scale": 5, "docs": 800, "vecs": 500}
    #: a batch or ingest job runs in a process of its own, so its pass is
    #: timed cold: JIT compilation, class loading and the Python workers'
    #: start are part of what the job pays.  A cold pass (about 35 s on a
    #: 4-core box, against 12 s warm) also spread less from run to run
    #: than a warm one, since it is mostly compilation
    warmup_passes = 0
    #: one timed pass per this many seconds of ``--seconds``
    pass_s = 35.0

    def __init__(self, manifest: dict, seed: int, scratch: str):
        self.tpch = TpchOps(manifest["dir"], seed)
        self.docs = DocOps(manifest["dir"], seed, scratch)

    def make_ops(self, pass_no: int) -> list:
        return self.tpch.ops + self.docs.make_ops(pass_no)

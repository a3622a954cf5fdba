"""The three benchmark workloads, driven only through the library's
public surface: ``api.Neo4jArrowSpark`` (gds_write_nodes,
gds_write_relationships, gds_nodes, khop, cypher, stream), ``Job.wait``
/ ``Job.result`` and ``DataFrame.toArrow()``.

An *operation* is one unit a client waits for. It is made of phases;
each phase is one public call timed from submit until its result is in
hand (the Arrow table for reads, COMPLETE for graph puts). Output
checks run after a phase's clock stops, and a failed check fails the
operation.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import data
from perfbench.trace import SparkCounters, Tracer, jvm_heap_live_mb


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Sizes:
    vectors: int
    star_nodes: int
    star_hubs: int
    star_hub_degree: tuple[int, int]
    star_super_degree: int
    tpch_sf: float
    setups: int


SIZES = {
    "full": Sizes(100_000, 4_000, 16, (100, 150), 420, 0.1, 3),
    "tiny": Sizes(300, 400, 4, (10, 30), 60, 0.001, 2),
}


@dataclass
class Op:
    ms: float = 0.0
    items: int = 0
    ok: bool = True
    cpu_ms: float = 0.0
    traced: bool = False
    layers: dict = field(default_factory=dict)


class Session:
    """Runs timed operations and keeps their samples."""

    def __init__(self, spark, api, tracer: Tracer, inject_fault: bool):
        self.spark = spark
        self.api = api
        self.tracer = tracer
        self.trace = tracer.enabled
        self.counters = SparkCounters(spark) if self.trace else None
        self.inject_fault = inject_fault
        self.recording = False
        self.cycle_traced = self.trace
        self.ops: list[Op] = []
        self.phases: list[tuple[str, str, float]] = []  # (kind, label, ms)
        self.setups: list[float] = []
        self.register_ms: list[float] = []
        self.failures: list[str] = []
        self.rates: dict[str, list[float]] = {}
        self.last_ms = 0.0
        self.warmup_s = self.timed_s = 0.0
        self.heap_live_mb: list[float] = []  # traced runs: before and after the timed cycles
        self._op: Op | None = None

    # -- set-up ------------------------------------------------------------

    def setup(self, fn):
        """Time one set-up (data generation plus registration)."""
        t0 = time.perf_counter()
        out = fn()
        self.setups.append(time.perf_counter() - t0)
        return out

    def register(self, fn):
        """Time a catalog registration inside a set-up."""
        t0 = time.perf_counter()
        with self.tracer.span("catalog.register"):
            out = fn()
        self.register_ms.append(1e3 * (time.perf_counter() - t0))
        return out

    # -- operations --------------------------------------------------------

    def op(self, body) -> None:
        """Run one operation; only operations of traced cycles carry
        spans and layer numbers."""
        traced = self.cycle_traced
        self.tracer.enabled = traced
        self.tracer.op_id = len(self.ops) if self.recording else -2
        self._op = op = Op(traced=traced)
        before = self.counters.read() if traced else None
        try:
            with self.tracer.span("op"):
                body()
        except CheckFailed as e:
            op.ok = False
            self.failures.append(f"check: {e}")
        except Exception as e:  # a failed call is a failed operation
            op.ok = False
            first = (str(e).splitlines() or [""])[0][:200]
            self.failures.append(f"{type(e).__name__}: {first}")
        if traced:
            op.layers["spark"] = SparkCounters.delta(before, self.counters.read())
        self.tracer.enabled = self.trace
        if self.recording:
            self.ops.append(op)
        elif not op.ok:
            raise RuntimeError(f"warm-up operation failed: {self.failures[-1]}")
        self._op = None

    def phase(self, kind: str, submit, *, collect: bool, put_bytes: int = 0, label: str = ""):
        """One public call: ``submit()`` returns a Job; the phase ends
        when the Job is COMPLETE (``collect=False``) or when its stream
        has arrived as an Arrow table (``collect=True``). Returns the
        table, or the result DataFrame when not collected."""
        op, span = self._op, self.tracer.span
        t0, c0 = time.perf_counter(), time.process_time()
        with span("api.submit"):
            job = submit()
        with span("jobs.wait"):
            job.wait()
            df = self.api.stream(job)
        out = df
        if collect:
            with span("stream.collect"):
                out = df.toArrow()
        ms = self.last_ms = 1e3 * (time.perf_counter() - t0)
        op.ms += ms
        op.cpu_ms += 1e3 * (time.process_time() - c0)
        if self.recording:
            self.phases.append((kind, label or kind, ms))
        if op.traced:
            lay = op.layers
            lay["ingest.bytes"] = lay.get("ingest.bytes", 0) + put_bytes
            if collect:
                lay["stream.bytes"] = lay.get("stream.bytes", 0) + out.nbytes
                lay["stream.batches"] = lay.get("stream.batches", 0) + len(out.to_batches())
        if collect and self.inject_fault and self.recording and len(self.ops) == 0:
            out = out.slice(1)  # drop a row: the check must catch it
        return out

    def add_items(self, n: int) -> None:
        self._op.items += n

    def rate(self, name: str, count: int, ms: float) -> None:
        """One sample of a per-phase rate (count per second)."""
        if self.recording:
            self.rates.setdefault(name, []).append(count / (ms / 1e3))


def _loop(sess: Session, seconds: float, cycle, warmups: int = 1) -> None:
    """``warmups`` untimed cycles (identical in every run), then timed
    cycles for about ``seconds`` of wall time: a new cycle starts while
    at least half the previous cycle's duration is left, so every
    sample covers whole cycles and the overrun averages out."""
    start = time.perf_counter()
    for i in range(warmups):
        cycle(-1 - i)
    sess.recording = True
    sess.warmup_s = time.perf_counter() - start
    if sess.trace:
        sess.heap_live_mb.append(jvm_heap_live_mb(sess.spark))
    start = time.perf_counter()
    last = 0.0
    i = 0
    # a traced run alternates traced and untraced cycles, so that the
    # tracing overhead is measured on the same operation mix: run both
    at_least = 2 if sess.trace else 1
    while i < at_least or seconds - (time.perf_counter() - start) >= last / 2:
        sess.cycle_traced = sess.trace and i % 2 == 0
        t0 = time.perf_counter()
        cycle(i)
        last = time.perf_counter() - t0
        i += 1
    sess.timed_s = time.perf_counter() - start
    if sess.trace:
        sess.heap_live_mb.append(jvm_heap_live_mb(sess.spark))


# -- vector_roundtrip ------------------------------------------------------


def vector_roundtrip(sess: Session, seed: int, seconds: float, sizes: Sizes, workdir: str) -> None:
    api, n = sess.api, sizes.vectors

    def make():
        table = data.embeddings_table(seed, n)
        sess.register(lambda: api.gds_write_nodes("vectors", table).result())
        api.catalog.drop("vectors")
        return table

    for _ in range(sizes.setups):
        table = sess.setup(make)
    ids = table.column("ID").to_numpy()
    want = data.embeddings_checksum(ids, table.column("embedding"), data.EMBEDDING_DIM)

    def roundtrip(_cycle):
        def body():
            sess.phase(
                "write",
                lambda: api.gds_write_nodes("vectors", table),
                collect=False,
                put_bytes=table.nbytes,
            )
            sess.rate("ingest_rows_per_s", n, sess.last_ms)
            got = sess.phase(
                "read",
                lambda: api.gds_nodes("vectors", properties=["embedding"]),
                collect=True,
            )
            sess.rate("stream_rows_per_s", got.num_rows, sess.last_ms)
            api.catalog.drop("vectors")
            expect(got.num_rows == n, f"streamed {got.num_rows} rows, put {n}")
            got_sum = data.embeddings_checksum(
                got.column("ID").to_numpy(), got.column("embedding"), data.EMBEDDING_DIM
            )
            expect(math.isclose(got_sum, want, rel_tol=1e-9), f"checksum {got_sum} != {want}")
            sess.add_items(2 * n)

        sess.op(body)

    _loop(sess, seconds, roundtrip)


# -- khop_star -------------------------------------------------------------


def khop_star(sess: Session, seed: int, seconds: float, sizes: Sizes, workdir: str) -> None:
    api, n = sess.api, sizes.star_nodes

    def make():
        nodes, rels = data.star_graph(
            seed, n, sizes.star_hubs, sizes.star_hub_degree, sizes.star_super_degree
        )

        def put():
            api.gds_write_nodes("star", nodes).result()
            api.gds_write_relationships("star", rels).result()

        sess.register(put)
        return rels

    for _ in range(sizes.setups):
        rels = sess.setup(make)
    want_counts, want_hash = data.khop2_expected(
        rels.column("START_ID").to_numpy(), rels.column("END_ID").to_numpy(), n
    )

    def extract(_cycle):
        def body():
            sess.phase(
                "write",
                lambda: api.gds_write_relationships("star", rels),
                collect=False,
                put_bytes=rels.nbytes,
            )
            got = sess.phase(
                "read", lambda: api.khop("star", k=2, list_size=2048), collect=True
            )
            read_ms = sess.last_ms
            counts, h, edges = data.khop_wire_digest(got, n)
            expect(np.array_equal(counts, want_counts), "per-origin 2-hop edge counts differ")
            expect(h == want_hash, "2-hop pair hash differs")
            sess.add_items(edges)
            sess.rate("khop_edges_per_s", edges, read_ms)

        sess.op(body)

    # the first extractions run far slower while the JVM warms up
    _loop(sess, seconds, extract, warmups=2)


# -- cypher_session --------------------------------------------------------

POINT = "MATCH (c:Customer) WHERE c.ID = $id RETURN c.name AS name, c.acctbal AS acctbal"
HOP1 = (
    "MATCH (c:Customer)-[r:BUYS_FROM]->(s:Supplier) WHERE c.ID = $id "
    "RETURN count(*) AS n, sum(r.weight) AS total"
)
HOP2 = (
    "MATCH (c:Customer)-[:BUYS_FROM]->(s:Supplier)-[:IN_NATION]->(x:Nation) "
    "WHERE c.ID = $id RETURN count(DISTINCT x.ID) AS nations, count(*) AS paths"
)
VARLEN = "MATCH (c:Customer)-[*1..2]->(x) WHERE c.ID = $id RETURN count(DISTINCT x.ID) AS n"
SET = "MATCH (c:Customer) WHERE c.ID = $id SET c.acctbal = $v"
CREATE = "CREATE (p:Probe {ID: $id, name: $name})"
DELETE = "MATCH (p:Probe) WHERE p.ID = $id DELETE p"

#: one cycle of the closed loop: 13 reads and 3 writes (a SET on a
#: customer and a CREATE/DELETE pair of a probe node, which keeps the
#: graph bounded). Point lookups are 9 of the 16 statements, so the
#: medians lie inside one kind of statement, and each write is followed
#: by the read that pays for its commit snapshot: the read-your-write
#: lookup or a pattern read.
CYCLE = (
    "point", "set", "point_set", "point", "point", "create", "hop2", "point",
    "point", "hop1", "point", "delete", "varlen", "point", "point", "point",
)
WRITES = {"set", "create", "delete"}
PROBE_BASE = 3_000_000


def cypher_session(sess: Session, seed: int, seconds: float, sizes: Sizes, workdir: str) -> None:
    from neo4j_arrow_spark.sources.tpch_graph import register_tpch_graph

    api = sess.api
    dirs = []

    def make():
        sf_dir = os.path.join(workdir, f"tpch-{len(dirs)}")
        dirs.append(sf_dir)
        data.write_tpch(seed, sizes.tpch_sf, sf_dir)
        sess.register(lambda: register_tpch_graph(sess.spark, api.catalog, sf_dir, name="tpch"))
        return sf_dir

    for _ in range(sizes.setups):
        sf_dir = sess.setup(make)
    oracle = data.TpchOracle(sf_dir)
    for stale in dirs[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    n_c = oracle.names.size
    n_write = max(4, n_c // 200)  # the customers SET may touch
    acctbal: dict[int, float] = {}

    def one(label: str, q: str, params: dict) -> dict:
        kind = "write" if label in WRITES else "read"
        table = sess.phase(
            kind, lambda: api.cypher(q, params=params, graph="tpch"), collect=True, label=label
        )
        sess.add_items(table.num_rows)
        out = table.to_pylist()
        expect(len(out) == 1, f"expected one row, got {len(out)}")
        return out[0]

    def point(label: str, cid: int) -> None:
        r = one(label, POINT, {"id": cid})
        expect(r["name"] == oracle.names[cid], f"name of {cid}")
        want = acctbal.get(cid, float(oracle.acctbal[cid]))
        expect(r["acctbal"] == want, f"acctbal of {cid}: {r['acctbal']} != {want}")

    def run_slot(rng, kind: str, cycle: int, last_set: list) -> None:
        cid = int(rng.integers(0, n_c - n_write))
        if kind == "point":
            point(kind, cid)
        elif kind == "point_set":
            point(kind, last_set[0])
        elif kind == "hop1":
            r = one(kind, HOP1, {"id": cid})
            expect(r["n"] == oracle.buys[cid], f"1-hop count of {cid}")
            expect(r["n"] == 0 or math.isclose(r["total"], oracle.spend[cid], rel_tol=1e-9), f"1-hop sum of {cid}")
        elif kind == "hop2":
            r = one(kind, HOP2, {"id": cid})
            expect(r["paths"] == oracle.buys[cid], f"2-hop paths of {cid}")
            expect(r["nations"] == oracle.supplier_nations(cid), f"2-hop nations of {cid}")
        elif kind == "varlen":
            r = one(kind, VARLEN, {"id": cid})
            expect(r["n"] == oracle.reach2(cid), f"*1..2 reach of {cid}")
        elif kind == "set":
            wid = int(rng.integers(n_c - n_write, n_c))
            v = round(float(rng.uniform(-999.99, 9999.99)), 2)
            r = one(kind, SET, {"id": wid, "v": v})
            expect(r["props_set"] == 1, f"SET summary {r}")
            acctbal[wid] = v
            last_set[:] = [wid]
        elif kind == "create":
            pid = PROBE_BASE + cycle
            r = one(kind, CREATE, {"id": pid, "name": f"probe-{pid}"})
            expect(r["nodes_created"] == 1, f"CREATE summary {r}")
        else:
            r = one(kind, DELETE, {"id": PROBE_BASE + cycle})
            expect(r["nodes_deleted"] == 1, f"DELETE summary {r}")

    rng = np.random.default_rng(seed)
    warm_rng = np.random.default_rng(0)

    def cycle(i: int) -> None:
        # the warm-up cycle (i = -1) draws its parameters from a fixed
        # stream, so every run starts from the same graph state
        last_set: list = []
        r = warm_rng if i < 0 else rng
        for kind in CYCLE:
            sess.op(lambda k=kind: run_slot(r, k, i + 1, last_set))

    _loop(sess, seconds, cycle)


WORKLOADS = {
    "vector_roundtrip": vector_roundtrip,
    "khop_star": khop_star,
    "cypher_session": cypher_session,
}


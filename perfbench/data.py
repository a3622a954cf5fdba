"""Seeded input generators and client-side oracles for the benchmark.

Every generator is a pure function of its seed and size, so one seed
always gives the same inputs. The oracles recompute expected results
with numpy from the generated arrays alone — never through Spark — so
a wrong answer from the library cannot agree with its own check.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBEDDING_DIM = 256


# -- vectors ---------------------------------------------------------------


def embeddings_table(seed: int, rows: int, dim: int = EMBEDDING_DIM) -> pa.Table:
    """``rows`` x ``dim`` float32 embeddings as a node table
    ``(ID long, LABELS list<string>, embedding list<float>)``."""
    rng = np.random.default_rng(seed)
    values = rng.standard_normal(rows * dim, dtype=np.float32)
    offsets = np.arange(0, rows * dim + 1, dim, dtype=np.int32)
    labels = pa.array([["Vec"]] * rows, type=pa.list_(pa.string()))
    return pa.table(
        {
            "ID": pa.array(np.arange(rows, dtype=np.int64)),
            "LABELS": labels,
            "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        }
    )


def _row_weights(ids: np.ndarray) -> np.ndarray:
    return (ids % 9973 + 1).astype(np.float64)


def embeddings_checksum(ids: np.ndarray, embedding: pa.ChunkedArray | pa.Array, dim: int) -> float:
    """Order-independent float checksum: sum over rows of
    ``(ID % 9973 + 1) * sum(row)``, so a row paired with the wrong id,
    a dropped row or a changed value all move it. Raises ValueError on
    rows that are not exactly ``dim`` long."""
    if isinstance(embedding, pa.ChunkedArray):
        embedding = embedding.combine_chunks()
    lengths = embedding.value_lengths().to_numpy(zero_copy_only=False)
    if len(lengths) and (lengths.min() != dim or lengths.max() != dim):
        raise ValueError(f"embedding rows are not all {dim} long")
    values = embedding.flatten().to_numpy(zero_copy_only=False)
    row_sums = values.reshape(-1, dim).sum(axis=1, dtype=np.float64)
    return float(np.dot(_row_weights(ids), row_sums))


# -- star graph ------------------------------------------------------------

REL_TYPES = ("FOLLOWS", "PAYS", "KNOWS")


def star_graph(seed: int, nodes: int, hubs: int, hub_degree: tuple[int, int],
               super_degree: int) -> tuple[pa.Table, pa.Table]:
    """A skewed directed multigraph: one supernode (node 0) of degree
    ``super_degree``, ``hubs`` hubs with degrees drawn from
    ``hub_degree``, a power-law tail with most nodes of degree 1-3,
    plus duplicated (parallel) edges and a few self-loops. Hub and
    supernode edge directions are mixed, so both orientations reach
    them. Returns ``(nodes, rels)`` Arrow tables."""
    rng = np.random.default_rng(seed)
    ids = np.arange(nodes, dtype=np.int64)
    parts_src, parts_dst = [], []

    def attach(center: int, degree: int) -> None:
        others = rng.integers(1, nodes, size=degree, dtype=np.int64)
        outward = rng.random(degree) < 0.5
        parts_src.append(np.where(outward, center, others))
        parts_dst.append(np.where(outward, others, center))

    attach(0, super_degree)
    for h in range(1, hubs + 1):
        attach(h, int(rng.integers(hub_degree[0], hub_degree[1] + 1)))
    tail = np.arange(hubs + 1, nodes, dtype=np.int64)
    tail_deg = np.minimum(rng.zipf(2.5, size=tail.size), 40)
    src = np.repeat(tail, tail_deg)
    parts_src.append(src)
    parts_dst.append(rng.integers(hubs + 1, nodes, size=src.size, dtype=np.int64))
    src = np.concatenate(parts_src)
    dst = np.concatenate(parts_dst)
    # parallel edges: re-emit ~3% of the edges verbatim
    dup = rng.random(src.size) < 0.03
    loops = rng.integers(hubs + 1, nodes, size=max(1, nodes // 500), dtype=np.int64)
    src = np.concatenate([src, src[dup], loops])
    dst = np.concatenate([dst, dst[dup], loops])
    types = rng.integers(0, len(REL_TYPES), size=src.size)
    node_table = pa.table(
        {
            "ID": pa.array(ids),
            "LABELS": pa.array([["User"]] * nodes, type=pa.list_(pa.string())),
        }
    )
    rel_table = pa.table(
        {
            "START_ID": pa.array(src),
            "END_ID": pa.array(dst),
            "TYPE": pa.array(np.array(REL_TYPES, dtype=object)[types], type=pa.string()),
        }
    )
    return node_table, rel_table


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wraps mod 2**64)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def pair_hash(origin: np.ndarray, src: np.ndarray, dst: np.ndarray) -> int:
    """Commutative hash of a multiset of (origin, src, dst) triples:
    the wrapped uint64 sum of a per-triple mix."""
    key = (
        (origin.astype(np.uint64) << np.uint64(42))
        ^ (src.astype(np.uint64) << np.uint64(21))
        ^ dst.astype(np.uint64)
    )
    with np.errstate(over="ignore"):
        return int(_mix(key).sum(dtype=np.uint64))


def khop2_expected(src: np.ndarray, dst: np.ndarray, nodes: int) -> tuple[np.ndarray, int]:
    """Per-origin 2-hop edge counts and the pair hash, recomputed from
    the edge list: ``edges(o) = {(s, d) in E : s or d in N*(o)}`` with
    ``N*(o) = {o} + undirected neighbours of o`` over distinct directed
    edges ``E`` (the khop operator's documented semantics)."""
    pairs = np.unique(src * nodes + dst)
    es, ed = pairs // nodes, pairs % nodes
    eid = np.arange(pairs.size, dtype=np.int64)
    # incidence (member, edge): both endpoints, a self-loop once
    loop = es == ed
    inc_m = np.concatenate([es, ed[~loop]])
    inc_e = np.concatenate([eid, eid[~loop]])
    order = np.argsort(inc_m, kind="stable")
    inc_m, inc_e = inc_m[order], inc_e[order]
    start = np.searchsorted(inc_m, np.arange(nodes + 1))
    # members (origin, member): undirected adjacency plus identity
    mem = np.unique(np.concatenate([es * nodes + ed, ed * nodes + es, np.arange(nodes) * (nodes + 1)]))
    mo, mm = mem // nodes, mem % nodes
    lens = start[mm + 1] - start[mm]
    rep_o = np.repeat(mo, lens)
    first = np.repeat(start[mm] - np.concatenate([[0], np.cumsum(lens)[:-1]]), lens)
    got_e = inc_e[first + np.arange(rep_o.size)]
    key = np.unique(rep_o * pairs.size + got_e)
    origin, e = key // pairs.size, key % pairs.size
    counts = np.bincount(origin, minlength=nodes)
    return counts, pair_hash(origin, es[e], ed[e])


def khop_wire_digest(table: pa.Table, nodes: int) -> tuple[np.ndarray, int, int]:
    """Flatten the khop wire shape ``(_origin_id_, _source_ids_,
    _target_ids_)`` into per-origin edge counts, the pair hash and the
    number of delivered edges."""
    origin = table.column("_origin_id_").to_numpy().astype(np.int64)
    srcs = table.column("_source_ids_").combine_chunks()
    dsts = table.column("_target_ids_").combine_chunks()
    lens = srcs.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
    o = np.repeat(origin, lens)
    s = srcs.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    d = dsts.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    return np.bincount(o, minlength=nodes), pair_hash(o, s, d), int(o.size)


# -- TPC-H-shaped tables ---------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def write_tpch(seed: int, sf: float, out_dir: str) -> None:
    """Write the five tables the TPC-H graph derivation reads
    (customer, supplier, nation, orders, lineitem), with TPC-H row
    counts for scale factor ``sf`` and the column names and types of
    the TPC-H-ish parquet fixtures."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_o = int(150_000 * sf), max(10, int(10_000 * sf)), int(1_500_000 * sf)
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_c)], type=pa.string()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
        }
    )
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_o, dtype=np.int64), per_order)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_l), 2)),
        }
    )
    tables = {
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class TpchOracle:
    """Expected answers for the Cypher session's reads, computed from
    the parquet files as written (read back with pyarrow)."""

    def __init__(self, sf_dir: str):
        def col(table: str, name: str) -> np.ndarray:
            path = os.path.join(sf_dir, f"{table}.parquet")
            return pq.read_table(path, columns=[name]).column(name).to_numpy(zero_copy_only=False)

        self.names = col("customer", "c_name")
        self.acctbal = col("customer", "c_acctbal")
        cust_nation = col("customer", "c_nationkey").astype(np.int64)
        supp_nation = col("supplier", "s_nationkey").astype(np.int64)
        o_cust = col("orders", "o_custkey")
        l_cust = o_cust[col("lineitem", "l_orderkey")]  # o_orderkey == row index
        l_supp = col("lineitem", "l_suppkey")
        price = col("lineitem", "l_extendedprice")
        n_c = self.names.size
        self.buys = np.bincount(l_cust, minlength=n_c)
        self.spend = np.bincount(l_cust, weights=price, minlength=n_c)
        order = np.argsort(l_cust, kind="stable")
        self._by_cust = l_supp[order]
        self._start = np.searchsorted(l_cust[order], np.arange(n_c + 1))
        self._supp_nation = supp_nation
        self._cust_nation = cust_nation

    def suppliers_of(self, cust: int) -> np.ndarray:
        return self._by_cust[self._start[cust]:self._start[cust + 1]]

    def supplier_nations(self, cust: int) -> int:
        """Distinct nations of the suppliers a customer buys from."""
        return int(np.unique(self._supp_nation[self.suppliers_of(cust)]).size)

    def reach2(self, cust: int) -> int:
        """Distinct nodes 1..2 outgoing hops from a customer: its
        suppliers, its nation and its suppliers' nations."""
        supp = np.unique(self.suppliers_of(cust))
        nations = set(self._supp_nation[supp].tolist()) | {int(self._cust_nation[cust])}
        return int(supp.size + len(nations))

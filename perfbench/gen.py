"""Deterministic inputs for the benchmark workloads, and the reference
models their outputs are checked against.

Everything here is plain Python (no Spark): the same seed always yields
the same log lines and tables, and the models replay those inputs to the
exact view each consumer must hold after the drain.
"""

from __future__ import annotations

import json
import os
import random

DB = "shop"
#: one binlog-style file per log; lines are ordered by ``source.pos``
LOG_FILE = "mysql-bin.000001.jsonl"
T0_MS = 1_700_000_000_000

# -- change-log schemas (field order = physical schema order) ---------------
JOIN_FACT = ("orders", (("o_id", "long"), ("cust_id", "long"),
                        ("amount", "long"), ("ts", "long")))
JOIN_DIM = ("customers", (("c_id", "long"), ("c_name", "string"),
                          ("c_tier", "int")))


class _Live:
    """Live rows of one table with O(1) uniform choice of a live key."""

    def __init__(self) -> None:
        self.rows: dict[int, dict] = {}
        self._keys: list[int] = []
        self._idx: dict[int, int] = {}

    def put(self, key: int, row: dict) -> None:
        if key not in self.rows:
            self._idx[key] = len(self._keys)
            self._keys.append(key)
        self.rows[key] = row

    def pop(self, key: int) -> dict:
        i = self._idx.pop(key)
        last = self._keys.pop()
        if last != key:
            self._keys[i] = last
            self._idx[last] = i
        return self.rows.pop(key)

    def pick(self, rng: random.Random) -> int:
        return self._keys[rng.randrange(len(self._keys))]

    def __len__(self) -> int:
        return len(self._keys)


class ChangeLog:
    """Generated log: ``events[i]`` is line ``i`` as
    ``(table, op, before, after)``; ``lines[i]`` is its Debezium envelope."""

    def __init__(self) -> None:
        self.events: list[tuple[str, str, dict | None, dict | None]] = []
        self.lines: list[str] = []

    def emit(self, table: str, op: str, before, after, ts_ms: int) -> None:
        pos = len(self.events)
        self.events.append((table, op, before, after))
        self.lines.append(json.dumps(
            {
                "before": before,
                "after": after,
                "op": op,
                "source": {"db": DB, "table": table, "file": LOG_FILE,
                           "pos": pos, "ts_ms": ts_ms},
                "ts_ms": ts_ms,
            },
            separators=(",", ":"),
        ))

    def write(self, log_dir: str, n_lines: int | None = None) -> None:
        """Write the first ``n_lines`` lines (all by default) to ``log_dir``."""
        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, LOG_FILE), "w") as f:
            f.write("\n".join(self.lines[:n_lines]))
            f.write("\n")


def _choose(rng: random.Random, weights: tuple[tuple[str, float], ...]) -> str:
    x = rng.random() * sum(w for _, w in weights)
    for name, w in weights:
        x -= w
        if x < 0:
            return name
    return weights[-1][0]


def join_log(seed: int, n_lines: int, n_dims: int) -> ChangeLog:
    """Two-table log: 90 % fact lines with op mix c/u/d = 65/17/8 (of all
    lines), 10 % dimension lines (c until ``n_dims`` exist, then u).
    Facts carry event time ``ts`` (ms, advancing 10 ms per line; an update
    carries the time of its own line).  Every update and delete carries the
    row's current image as its before-image."""
    rng = random.Random(seed)
    log = ChangeLog()
    facts, dims = _Live(), _Live()
    fact_t, dim_t = JOIN_FACT[0], JOIN_DIM[0]
    next_fact = 1
    ops = (("dim", 10.0), ("c", 65.0), ("u", 17.0), ("d", 8.0))
    for i in range(n_lines):
        ts = T0_MS + 10 * i + rng.randrange(10)
        op = _choose(rng, ops)
        if op == "dim":
            if len(dims) < n_dims and (not len(dims) or rng.random() < 0.5):
                key = len(dims)
                row = {"c_id": key, "c_name": f"cust-{key}-{rng.randrange(10**6)}",
                       "c_tier": rng.randrange(5)}
                dims.put(key, row)
                log.emit(dim_t, "c", None, row, ts)
            else:
                key = dims.pick(rng)
                before = dims.rows[key]
                row = dict(before, c_name=f"cust-{key}-{rng.randrange(10**6)}",
                           c_tier=rng.randrange(5))
                dims.put(key, row)
                log.emit(dim_t, "u", before, row, ts)
            continue
        if op != "c" and not len(facts):
            op = "c"
        if op == "c":
            key, next_fact = next_fact, next_fact + 1
            row = {"o_id": key, "cust_id": rng.randrange(n_dims),
                   "amount": rng.randrange(1, 100_000), "ts": ts}
            facts.put(key, row)
            log.emit(fact_t, "c", None, row, ts)
        elif op == "u":
            key = facts.pick(rng)
            before = facts.rows[key]
            row = dict(before, amount=rng.randrange(1, 100_000), ts=ts)
            if rng.random() < 0.3:  # join-column change
                row["cust_id"] = rng.randrange(n_dims)
            facts.put(key, row)
            log.emit(fact_t, "u", before, row, ts)
        else:
            key = facts.pick(rng)
            log.emit(fact_t, "d", facts.pop(key), None, ts)
    return log


# -- reference models ---------------------------------------------------------
def _apply(state: dict, key_col: str, op: str, before, after) -> None:
    if op == "d":
        state.pop(before[key_col], None)
    else:
        if op == "u" and before[key_col] != after[key_col]:
            state.pop(before[key_col], None)
        state[after[key_col]] = after


def join_view_model(log: ChangeLog, epoch_ends: list[int], ttl: int) -> set[tuple]:
    """Rows of the ``orders ⋈ customers`` inner-join view after the epochs
    ending at line counts ``epoch_ends``, under the event-time TTL rule of
    ``streaming/ttl.py``: at the start of each epoch, every stored fact with
    ``ts <= watermark - ttl`` expires (the watermark being the max ``ts``
    of every fact image committed by earlier epochs); the epoch's own
    images are applied after the expiry, so a same-epoch update revives a
    fact with its fresh event time."""
    facts: dict = {}
    dims: dict = {}
    wm = None
    start = 0
    for end in epoch_ends:
        if wm is not None:
            cutoff = wm - ttl
            facts = {k: r for k, r in facts.items() if r["ts"] > cutoff}
        for table, op, before, after in log.events[start:end]:
            if table == JOIN_DIM[0]:
                _apply(dims, "c_id", op, before, after)
                continue
            _apply(facts, "o_id", op, before, after)
            for img in (before, after):
                if img is not None:
                    wm = img["ts"] if wm is None else max(wm, img["ts"])
        start = end
    fact_cols = [c for c, _ in JOIN_FACT[1]]
    dim_cols = [c for c, _ in JOIN_DIM[1]]
    return {
        tuple(f[c] for c in fact_cols) + tuple(dims[f["cust_id"]][c] for c in dim_cols)
        for f in facts.values()
        if f["cust_id"] in dims
    }


def agg_view_model(log: ChangeLog, table: str) -> set[tuple]:
    """``SELECT cust_id, count(*), sum(amount) FROM <table> GROUP BY
    cust_id`` over the table the whole log leaves behind."""
    state: dict = {}
    for t, op, before, after in log.events:
        if t == table:
            _apply(state, "o_id", op, before, after)
    groups: dict[int, list[int]] = {}
    for r in state.values():
        g = groups.setdefault(r["cust_id"], [0, 0])
        g[0] += 1
        g[1] += r["amount"]
    return {(k, c, s) for k, (c, s) in groups.items()}


def sink_rows_model(log: ChangeLog, table: str) -> list[tuple[int, int, str]]:
    """``(pos, image, op)`` of every change row ``table``'s lines parse to:
    one row per c/r/d line, two (before, after) per update."""
    out = []
    for pos, (t, op, _b, _a) in enumerate(log.events):
        if t != table:
            continue
        out.append((pos, 0, op))
        if op == "u":
            out.append((pos, 1, op))
    return out


# -- query_mix tables -----------------------------------------------------------
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """The synthetic star schema + ``events`` / ``documents`` /
    ``embeddings`` tables the registry queries read, one parquet file
    each (the layout of ``io.load_table``).  ``scale`` 0.01 gives 60k
    lineitem rows."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name: str, df, schema=None) -> None:
        tbl = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def day(lo: str, hi: str, n: int):
        d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        days = rng.integers(0, (d1 - d0).astype(int) + 1, n)
        return (d0 + days).astype("datetime64[us]")

    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    save("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    save("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    save("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}))
    adj = np.array("blue cold hot large new red small old".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    save("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}))
    save("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": day("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]}))
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okeys = np.repeat(np.arange(n_ord, dtype="int64"), per_order)
    linenos = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    save("lineitem", pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": linenos.astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day("1995-01-02", "2001-11-04", n_li)}))
    n_ev = int(1_000_000 * scale)
    gaps = rng.exponential(259.0, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.cumsum(gaps) * 1e6).astype("int64").astype("timedelta64[us]"))
    save("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(49.6, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    n_doc = int(50_000 * scale)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 8 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_chars = int(rng.integers(48, 554))
        body = " ".join(words[rng.integers(0, len(words), n_chars // 3)])
        texts.append(body[:n_chars].rstrip())
    save("documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}))
    n_emb, dim, n_lab = int(50_000 * scale), 64, 10
    centers = rng.normal(0.0, 1.0, (n_lab, dim))
    labels = rng.integers(0, n_lab, n_emb)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    save("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32")}),
        schema=pa.schema([("vec_id", pa.int64()),
                          ("embedding", pa.list_(pa.float32())),
                          ("label", pa.int32())]))

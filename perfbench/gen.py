"""Seeded input generators for the benchmark.

Two inputs, both a pure function of the seed:

* ``tables``: the engine's fixture tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) at a given scale factor,
  with the column names, types and value domains that ``graft.Tables``
  and the query registry expect.
* ``backlog``: a Debezium CDC backlog (JSON-line files for the
  ``file:<dir>`` transport) covering the reference's whole envelope
  mix, together with the JSONEachRow rows the sink must receive and the
  table state those rows must reconstruct. The expectations come from
  a simulation of the source table, not from ``graft.pipeline``.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast batch the spark "
         "table small data big customer row").split()
ADJS = "small blue cold old new hot red large".split()
NOUNS = "widget rod ring anvil plate bolt gear gizmo".split()

# The CDC backlog's envelope mix. Neither the reference nor this
# repository records the traffic of a real CDC stream, so every rate
# below is an unverified assumption, and no gain should be claimed from
# the mix itself. Each edge case gets a small rate, enough to cover it
# (about 400 envelopes in a 40 000-envelope backlog), not to weigh it.
# The split of the valid ops has more creates than deletes so that the
# table grows and the current-state check compares many rows.
BAD_JSON = 0.01          # of envelopes: unparseable, dropped
UNKNOWN_OP = 0.01        # of envelopes: "r", "x" or the case-sensitive "C", dropped
NULL_AFTER = 0.01        # of envelopes: c/u without an after image, dropped
OPS = (("c", 0.50), ("u", 0.35), ("d", 0.15))  # split of the valid envelopes
KEYED_DELETE = 0.07      # of deletes (about 1% of envelopes): zero before.id, id from the record key
DOUBLE_ENCODED = 0.01    # of valid unkeyed envelopes: the value is a JSON string of the envelope


def _days(rng, n, lo, hi):
    lo, hi = dt.datetime.fromisoformat(lo), dt.datetime.fromisoformat(hi)
    d = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array([lo + dt.timedelta(days=int(x)) for x in d], pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir, seed, sf=0.001):
    """Write ``<out_dir>/<table>.parquet`` for every fixture table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(500_000 * sf)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": rng.integers(0, 15, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    # a few near-duplicates so the dedup family has clusters to find
    for i in rng.choice(n_doc, n_doc // 40, replace=False):
        src = texts[int(rng.integers(0, n_doc))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(rng.normal(0, 0.12, (n_doc, 64)).astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), i32)})
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _jline(obj):
    return json.dumps(obj, separators=(",", ":"))


def _ts(ts_us):
    return dt.datetime.fromtimestamp(ts_us // 10**6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def make_backlog(out_dir, seed, changes, files):
    """Write a CDC backlog of about ``changes`` envelopes into
    ``<out_dir>/topic/part-*.jsonl`` and return ``(expected_rows,
    expected_state)``.

    ``expected_rows`` are the JSONEachRow lines the sink must receive
    (one per translated envelope); ``expected_state`` maps id to
    ``[name, email, lsn]`` for every row alive at the end, which is the
    table the acked rows must reconstruct (max ``_lsn`` per id, deletes
    dropped).
    """
    rng = np.random.default_rng(seed)
    topic = os.path.join(out_dir, "topic")
    os.makedirs(topic, exist_ok=True)
    alive, ids, next_id, lsn = {}, [], 1, 1000
    ts0 = 1_700_000_000 * 10**6
    lines, rows = [], []

    def envelope(op, before, after, lsn, ts_us):
        return {"before": before, "after": after,
                "source": {"lsn": lsn, "ts_us": ts_us, "schema": "app", "table": "users"},
                "op": op, "ts_us": ts_us}

    def user(i, name, email):
        return {"id": i, "name": name, "email": email}

    while len(lines) < changes:
        lsn += int(rng.integers(1, 4))
        ts_us = ts0 + lsn * 1000
        kind = rng.random()
        if kind < BAD_JSON:
            lines.append("{not json " + str(lsn))
            continue
        kind -= BAD_JSON
        if kind < UNKNOWN_OP:
            lines.append(_jline(envelope(str(rng.choice(["r", "x", "C"])), None,
                                         user(next_id, "ghost", "ghost@x"), lsn, ts_us)))
            continue
        kind -= UNKNOWN_OP
        if kind < NULL_AFTER:
            lines.append(_jline(envelope(str(rng.choice(["c", "u"])), None, None, lsn, ts_us)))
            continue
        pick = rng.random()
        op = "c" if pick < OPS[0][1] else "u" if pick < OPS[0][1] + OPS[1][1] else "d"
        if op == "c" or len(alive) < 10:
            op, i = "c", next_id
            next_id += 1
            ids.append(i)
        else:
            i = ids[int(rng.integers(0, len(ids)))]
        keyed = False
        if op == "d":
            name, email = alive.pop(i)[:2]
            ids.remove(i)
            keyed = rng.random() < KEYED_DELETE
            if keyed:  # zero before.id: id falls back to the record key
                env = envelope("d", user(0, name, email), None, lsn, ts_us)
                line = _jline({"key": _jline({"id": i}), "value": _jline(env)})
            else:
                line = _jline(envelope("d", user(i, name, email), None, lsn, ts_us))
            rows.append(_jline({"id": i, "name": "", "email": "", "is_deleted": 1,
                                "_op": 3, "_lsn": lsn, "_ts": _ts(ts_us)}))
        else:
            before = None if op == "c" else user(i, *alive[i][:2])
            name = f"user{i}v{lsn}"
            email = f"{name}@example.com"
            alive[i] = [name, email, lsn]
            line = _jline(envelope(op, before, user(i, name, email), lsn, ts_us))
            rows.append(_jline({"id": i, "name": name, "email": email, "is_deleted": 0,
                                "_op": 1 if op == "c" else 2, "_lsn": lsn, "_ts": _ts(ts_us)}))
        if not keyed and rng.random() < DOUBLE_ENCODED:
            line = json.dumps(line)
        lines.append(line)
    per = (len(lines) + files - 1) // files
    for f in range(files):
        with open(os.path.join(topic, f"part-{f:04d}.jsonl"), "w") as fh:
            fh.write("".join(x + "\n" for x in lines[f * per:(f + 1) * per]))
    return rows, {str(k): v for k, v in alive.items()}

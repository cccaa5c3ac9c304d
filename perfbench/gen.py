"""Seeded input generator for the graft benchmark.

Two data sets, each a pure function of (kind, seed):

- ``base``: the eight parquet tables the ``relational`` faces read, at sf0.1,
  one file each, with the column names, physical types and value
  distributions of the tables graft's faces are written against (TPC-H-like
  star schema and ``events``).
- ``ingest``: reference-shaped JSON landings for the two pipeline DAGs: one
  "latest 30 posts" array per hour of a six-hour window and one comments
  array per post, plus ``expect.json`` with what the loads must produce,
  computed here independently of graft (distinct post ids, Python
  ``len(content.split())`` word counts, the comment ids of the window).

Everything runs in this one process (numpy + pyarrow, no thread pools of
its own). A finished data set carries a ``_DONE`` marker and is reused.

Usage: python3 gen.py <kind> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000}
VOCAB = ("spark line small fast group customer batch sort value hash filter "
         "big data dup query row stream the part column order scan a slow "
         "agg key window table merge vector join").split()
TS = pa.timestamp("us")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(base, offsets):
    return (np.datetime64(base, "us") +
            offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def base_tables(rng):
    """The sf0.1 tables as pyarrow Tables, keyed by name."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = SF_ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = SF_ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2))})
    n = SF_ROWS["part"]
    adj = ["large", "hot", "red", "blue", "cold", "small", "new", "old"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0)})

    n = SF_ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SF_ROWS["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2405, n)), TS),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = SF_ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, SF_ROWS["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, SF_ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, SF_ROWS["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n)), TS)})

    n = SF_ROWS["events"]
    # 30 days of distinct, increasing microsecond timestamps
    span_us = 30 * 86400 * 10**6
    off = np.sort(rng.choice(span_us, n, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + off.astype("timedelta64[us]"), TS),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})

    return t


def gen_base(seed, out):
    for name, table in base_tables(np.random.default_rng(seed)).items():
        _write(table, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- ingest

# The replayed window. The reference runs the comments DAG once a day; here
# it runs once per window, so that a pass stays short enough to time several.
INGEST_HOURS = 6
LATEST = 30
WS = [" ", "  ", "\t", "\n", " \n ", "\r\n"]


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _content(rng):
    """Post/comment body with mixed ASCII whitespace, sometimes empty."""
    if rng.random() < 0.04:
        return "" if rng.random() < 0.5 else " \t "
    n = int(rng.integers(5, 120))
    out = [WS[rng.integers(0, len(WS))]] if rng.random() < 0.2 else []
    for i in range(n):
        out.append(VOCAB[rng.integers(0, len(VOCAB))])
        if i < n - 1 or rng.random() < 0.2:
            out.append(WS[rng.integers(0, 3)] if rng.random() < 0.9
                       else WS[rng.integers(0, len(WS))])
    return "".join(out)


def gen_ingest(seed, out):
    """Hourly posts landings over INGEST_HOURS hours and per-post comments
    landings for that window, plus expect.json."""
    rng = np.random.default_rng(seed)
    start = dt.datetime(2024, 3, 1) + dt.timedelta(days=int(rng.integers(0, 300)))
    hours = INGEST_HOURS
    posts = []      # (publish time, post dict)
    next_id = int(rng.integers(10**6, 2 * 10**6))
    for h in range(-12, hours):
        for _ in range(int(rng.integers(2, 7))):
            when = start + dt.timedelta(hours=h, seconds=int(rng.integers(0, 3600)))
            content = _content(rng)
            pid = next_id
            next_id += int(rng.integers(1, 4))
            posts.append((when, {
                "id": pid, "date_gmt": _iso(when),
                "modified_gmt": _iso(when + dt.timedelta(minutes=int(rng.integers(0, 90)))),
                "title": f"Post {pid} on {VOCAB[pid % len(VOCAB)]}",
                "slug": f"post-{pid}", "status": "publish", "type": "post",
                "link": f"https://example.test/{pid}", "content": content,
                "excerpt": content[:40].strip(),
                "author": {"id": int(rng.integers(1, 50)), "name": f"author{pid % 50}"},
                "editor": f"editor{pid % 7}",
                "comment_status": "open" if rng.random() < 0.9 else "closed",
                "comments_count": int(rng.integers(0, 9)),
                "categories": [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(0, 3)))],
                "tags": [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(0, 4)))],
                "is_sponsored": bool(rng.random() < 0.1),
                "is_partnership": bool(rng.random() < 0.05),
                "show_ads": bool(rng.random() < 0.8),
                "is_subscriber_exclusive": bool(rng.random() < 0.1),
                "is_paywalled": bool(rng.random() < 0.1),
                "is_inappbrowser": False,
                "read_time": int(rng.integers(1, 12))}))
    posts.sort(key=lambda p: (p[0], p[1]["id"]))

    posts_dir = os.path.join(out, "posts")
    os.makedirs(posts_dir)
    loaded = {}
    overlap = []
    new_per_hour = []
    prev = set()
    for h in range(hours):
        cutoff = start + dt.timedelta(hours=h + 1)
        batch = [p for t, p in posts if t < cutoff][-LATEST:]
        ids = {p["id"] for p in batch}
        if prev:
            overlap.append(len(ids & prev) / len(ids))
        prev = ids
        new_per_hour.append(len(ids - loaded.keys()))
        for p in batch:
            loaded[p["id"]] = p
        # the reference's latest-N API call can return a post twice
        if rng.random() < 0.25:
            batch = batch + [batch[int(rng.integers(0, len(batch)))]]
        with open(os.path.join(posts_dir, f"hour-{h:03d}.json"), "w") as f:
            json.dump(batch, f)

    comments_dir = os.path.join(out, "comments")
    os.makedirs(comments_dir)
    next_cid = int(rng.integers(10**7, 2 * 10**7))
    # the window's run loads the comments of the posts published in it
    lo, hi = start, start + dt.timedelta(hours=hours)
    in_window = [p for t, p in posts if lo <= t < hi and p["id"] in loaded]
    # landings also hold comments of posts outside the window (late or early
    # fetches) that the window join must drop
    others = [p for t, p in posts if not (lo <= t < hi) and p["id"] in loaded]
    fetched = in_window + [others[i] for i in rng.integers(0, len(others), 6)]
    expected = set()
    for p in fetched:
        rows = []
        for _ in range(int(rng.integers(0, 6))):
            cid = next_cid
            next_cid += 1
            ctime = hi + dt.timedelta(minutes=int(rng.integers(0, 600)))
            content = _content(rng)
            rows.append({
                "id": cid, "post": p["id"], "post_title": p["title"],
                "post_link": p["link"], "post_comments_count": len(rows),
                "content": content, "excerpt": content[:20].strip(),
                "status": "approved", "type": "comment",
                "parent": rows[-1]["id"] if rows and rng.random() < 0.3 else None,
                "author": {"id": int(rng.integers(1, 500)), "name": f"reader{cid % 500}"},
                "date_gmt": _iso(ctime), "can_edit": bool(rng.random() < 0.2),
                "editable_until": _iso(ctime + dt.timedelta(days=1)) if rng.random() < 0.5 else None,
                "children": []})
        if rows and rng.random() < 0.2:
            rows.append(rows[0])    # a re-delivered comment
        if p in in_window:
            expected.update(r["id"] for r in rows)
        with open(os.path.join(comments_dir, f"post-{p['id']}.json"), "w") as f:
            json.dump(rows, f)

    expect = {
        "hours": hours,
        "new_per_hour": new_per_hour,
        "post_ids": sorted(loaded),
        "word_count": {str(k): len(v["content"].split()) for k, v in loaded.items()},
        "window": {"start": lo.strftime("%Y-%m-%d %H:%M:%S"),
                   "end": hi.strftime("%Y-%m-%d %H:%M:%S"),
                   "comment_ids": sorted(expected)},
        "overlap_mean": float(np.mean(overlap)),
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)


GENERATORS = {"base": gen_base, "ingest": gen_ingest}


def ensure(kind, seed, out):
    """Generate data set `kind` for `seed` into `out` unless it is complete."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    GENERATORS[kind](seed, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    ensure(sys.argv[1], int(sys.argv[2]), sys.argv[3])

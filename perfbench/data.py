"""Seeded benchmark inputs and their reference answers, cached on disk.

Two input sets, both a pure function of (seed, size):

* analytics tables: the ten TPC-H-ish tables the headline queries read
  (`__spark_entry__.TABLES`), written as one parquet file each so Spark and
  the DuckDB oracle read the same bytes;
* the CDC fixture: a base table plus an emission-ordered change-event log
  in the shape of `bench.py`'s fixture (Zipf repos, 70/20/9
  update/insert/delete, 2% re-deliveries of which a tenth arrive far late),
  drawn with numpy from the seed. Key names, commits and contents come from
  the engine's own `datavec_spark.streaming.datagen` helpers. Its reference
  final states come from a DuckDB last-writer-wins query.

Everything lands under `<cache>/<kind>_s<seed>_<size>/` and is reused while a
`_DONE` marker exists.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at sf0.1 (the repo's bench scale); other scales are proportional
SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
DAY_US = 86_400_000_000
BASE_TS_US = 1704067200_000_000  # 2024-01-01T00:00:00Z: the events table's first day
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z

CDC_EVENTS = 64_000
CDC_BASE_KEYS = 50_000
CDC_REPOS = 2_000
CDC_PATHS_PER_REPO = 100
BACKFILL_FILES = 32
LIVE_FILES = 2  # the end of the log, in small files the live tail drops
LIVE_FILE_ROWS = 1_000


def _done(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_DONE"))


def _mark_done(out: str, info: dict) -> None:
    with open(os.path.join(out, "info.json"), "w") as fh:
        json.dump(info, fh)
    open(os.path.join(out, "_DONE"), "w").close()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(cache: str, seed: int, sf: float) -> str:
    """Write the ten analytics tables for (seed, sf); return their directory."""
    out = os.path.join(cache, f"analytics_s{seed}_sf{sf}")
    if _done(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.RandomState(seed)
    n = {t: max(int(r * sf / 0.1), 10) for t, r in SF01_ROWS.items()}
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)},
    }
    c = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.randint(0, 25, c).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, c)],
    }
    s = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.randint(0, 25, s).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }
    p = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(rng.randint(0, 8, p), rng.randint(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, p)],
        "p_size": rng.randint(1, 51, p).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10.0, 2),
    }
    o = n["orders"]
    order_day = rng.randint(0, 2404, o)
    tables["orders"] = {
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.randint(0, c, o).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, o)],
    }
    li = n["lineitem"]
    l_order = rng.randint(0, o, li)
    qty = rng.randint(1, 51, li).astype("float64")
    tables["lineitem"] = {
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.randint(0, p, li).astype("int64"),
        "l_suppkey": rng.randint(0, s, li).astype("int64"),
        "l_linenumber": rng.randint(1, 8, li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.randint(0, 11, li) / 100.0,
        "l_tax": rng.randint(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, li)],
        "l_shipdate": _ts(EPOCH_1995_US
                          + (order_day[l_order] + rng.randint(1, 122, li)) * DAY_US),
    }
    e = n["events"]
    users = max(int(15_000 * sf), 10)
    tables["events"] = {
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(BASE_TS_US + np.sort(rng.randint(0, 30 * DAY_US, e))),
        "user_id": rng.randint(0, users, e).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.randint(0, 100, e)],
    }
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and rng.rand() < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.randint(0, i)].split()
            for _ in range(rng.randint(1, 4)):
                words[rng.randint(0, len(words))] = VOCAB[rng.randint(0, len(VOCAB))]
        else:
            words = [VOCAB[j] for j in rng.randint(0, len(VOCAB), rng.randint(10, 101))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in rng.randint(0, len(DOC_LANGS), d)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }
    m = n["embeddings"]
    labels = rng.randint(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(m, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    _mark_done(out, {"seed": seed, "sf": sf, "rows": n})
    return out


# ---------------------------------------------------------------------------
# CDC fixture and its DuckDB references
# ---------------------------------------------------------------------------


def _events_table(seed: int, n_events: int) -> pa.Table:
    """Emission-ordered change events in the engine's event schema, with
    `datagen`'s key names, commits and contents: Zipf-skewed repos (u^3),
    70/20/9 update/insert/delete, event time 50 ms apart with +-5 min jitter,
    and 2% re-deliveries, most a few positions after the original and one in
    ten after the whole log (hours late: the lateness-drop path)."""
    from datavec_spark.streaming.datagen import (
        EVENT_SCHEMA, commit_for, content_for, lang_for, path_name, repo_name)

    rng = np.random.RandomState(seed)
    seq = np.arange(1, n_events + 1, dtype="int64")
    ridx = np.minimum((CDC_REPOS * rng.random_sample(n_events) ** 3).astype("int64"),
                      CDC_REPOS - 1)
    pidx = rng.randint(0, CDC_PATHS_PER_REPO, n_events)
    d = rng.randint(0, 100, n_events)
    ops = np.where(d < 9, "delete", np.where(d < 29, "insert", "update"))
    ts = BASE_TS_US + seq * 50_000 + rng.randint(-300_000_000, 300_000_000, n_events)
    repos, paths, commits, langs, contents = [], [], [], [], []
    for s_, r, p_, op in zip(seq.tolist(), ridx.tolist(), pidx.tolist(), ops.tolist()):
        repo, path = repo_name(r), path_name(p_)
        repos.append(repo)
        paths.append(path)
        live = op != "delete"
        commits.append(commit_for(repo, path, s_) if live else None)
        langs.append(lang_for(path) if live else None)
        contents.append(content_for(repo, path, s_) if live else None)
    emit = seq * 64
    dup = np.flatnonzero(rng.randint(0, 100, n_events) < 2)
    far = rng.randint(0, 10, len(dup)) == 0
    dup_emit = np.where(far, (n_events + 1) * 64 + seq[dup],
                        (seq[dup] + rng.randint(1, 51, len(dup))) * 64 + 1)
    rows = np.concatenate([np.arange(n_events), dup])
    order = rows[np.argsort(np.concatenate([emit, dup_emit]), kind="stable")]

    def col(values, typ):
        return pa.array(values, type=typ).take(pa.array(order))

    return pa.table({
        "seq": col(seq, pa.int64()),
        "ts": col(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "op": col(ops.tolist(), pa.string()),
        "repo": col(repos, pa.string()), "path": col(paths, pa.string()),
        "commit": col(commits, pa.string()), "lang": col(langs, pa.string()),
        "content": col(contents, pa.string()),
        "schema_change": pa.nulls(len(order), EVENT_SCHEMA.field("schema_change").type),
    })


def cdc_fixture(cache: str, seed: int, n_events: int = CDC_EVENTS) -> dict:
    """Base table + event files in emission order (file names
    sort in emission order; mtimes strictly increase in that order), the
    DuckDB references after the backfill files and after the live files, and
    the live files' re-delivery budget. Returns the fixture's info
    dict (paths included), generating and caching it on first use."""
    from datavec_spark.streaming.datagen import (
        commit_for, content_for, lang_for, path_name, repo_name)

    out = os.path.join(cache, f"cdc_s{seed}_ev{n_events}")
    if not _done(out):
        shutil.rmtree(out, ignore_errors=True)
        ev_dir = os.path.join(out, "events")
        os.makedirs(ev_dir)
        events = _events_table(seed, n_events)
        # the log in large files, but for its last LIVE_FILES small ones:
        # the live tail drops those at a fixed rate
        cut = events.num_rows - LIVE_FILES * LIVE_FILE_ROWS
        parts = [(0, cut, BACKFILL_FILES), (cut, events.num_rows, LIVE_FILES)]
        files = []
        for start, end, n in parts:
            for i in range(n):
                lo, hi = start + i * (end - start) // n, start + (i + 1) * (end - start) // n
                files.append(f"ev-{len(files):05d}.parquet")
                path = os.path.join(ev_dir, files[-1])
                pq.write_table(events.slice(lo, hi - lo), path)
                os.utime(path, (1_600_000_000 + len(files), 1_600_000_000 + len(files)))
        # base: CDC_BASE_KEYS distinct keys, a seeded sample of all pairs,
        # each at seq 0 as `datagen.generate_base_rows` writes them
        rng = np.random.RandomState(seed + 1_000_003)
        pairs = rng.choice(CDC_REPOS * CDC_PATHS_PER_REPO, CDC_BASE_KEYS, replace=False)
        keys = [(repo_name(int(k) // CDC_PATHS_PER_REPO), path_name(int(k) % CDC_PATHS_PER_REPO))
                for k in np.sort(pairs)]
        os.makedirs(os.path.join(out, "base"))
        pq.write_table(pa.table({
            "repo": [r for r, _ in keys], "path": [p for _, p in keys],
            "commit": [commit_for(r, p, 0) for r, p in keys],
            "lang": [lang_for(p) for _, p in keys],
            "content": [content_for(r, p, 0) for r, p in keys],
        }), os.path.join(out, "base", "part-0.parquet"))
        info = {"seed": seed, "n_events": n_events,
                "backfill_files": files[:BACKFILL_FILES], "live_files": files[BACKFILL_FILES:]}
        info.update(_references(out, info))
        _mark_done(out, info)
    with open(os.path.join(out, "info.json")) as fh:
        info = json.load(fh)
    info["dir"] = out
    return info


def lww_reference_sql(base_glob: str, event_files: list[str]) -> str:
    """DuckDB last-writer-wins final state: base rows at seq 0, then every
    data event; the newest version per key wins and a delete removes it."""
    files = ", ".join(f"'{f}'" for f in event_files)
    return f"""
        WITH v AS (
            SELECT 0::BIGINT AS seq, 'insert' AS op, repo, path, content
            FROM read_parquet('{base_glob}')
            UNION ALL
            SELECT seq, op, repo, path, content FROM read_parquet([{files}])
            WHERE op IN ('insert', 'update', 'delete')),
        w AS (SELECT repo, path, arg_max(op, seq) AS op, arg_max(content, seq) AS content
              FROM v GROUP BY repo, path)
        SELECT repo, path, sha256(content) AS content_sha FROM w WHERE op <> 'delete'
    """


def _references(out: str, info: dict) -> dict:
    """The reference final states after the backfill files and after the
    live files (each applied to the base), written beside the fixture; the backfill's event count; and
    the live files' re-delivery budget (events minus distinct seqs), the
    most rows the live tail may drop as late."""
    import duckdb

    base = os.path.join(out, "base", "*.parquet")
    backfill = [os.path.join(out, "events", f) for f in info["backfill_files"]]
    live = [os.path.join(out, "events", f) for f in info["live_files"]]
    con = duckdb.connect()
    try:
        for name, paths in (("ref_backfill", backfill), ("ref_live", live)):
            con.execute(f"COPY ({lww_reference_sql(base, paths)}) "
                        f"TO '{os.path.join(out, name + '.parquet')}' (FORMAT parquet)")
        n = con.execute(f"SELECT count(*) FROM read_parquet({backfill!r})").fetchone()[0]
        budget = con.execute(f"SELECT count(*) - count(DISTINCT seq) "
                             f"FROM read_parquet({live!r})").fetchone()[0]
    finally:
        con.close()
    return {"backfill_events": n, "dup_budget": budget}


def lookup_keys(info: dict, seed: int, n: int) -> list[tuple[str, str, str | None]]:
    """A seeded mix of (repo, path, expected content_sha or None) against the
    backfill reference: hot keys (Zipf head repos), cold keys, keys deleted
    by the log, and keys that never existed."""
    import duckdb

    out = info["dir"]
    ref = os.path.join(out, "ref_backfill.parquet")
    ev = [os.path.join(out, "events", f) for f in info["backfill_files"]]
    files = ", ".join(f"'{p}'" for p in ev)
    con = duckdb.connect()
    quarter = n // 4
    order = f"ORDER BY hash(repo, path, {seed}) LIMIT {quarter}"
    hot = con.execute(f"""SELECT repo, path, content_sha FROM '{ref}'
        WHERE repo IN ('org0/project0', 'org0/project1', 'org0/project2') {order}""").fetchall()
    cold = con.execute(f"SELECT repo, path, content_sha FROM '{ref}' {order}").fetchall()
    deleted = con.execute(f"""SELECT DISTINCT repo, path, NULL FROM read_parquet([{files}]) e
        WHERE op = 'delete'
          AND NOT EXISTS (SELECT 1 FROM '{ref}' r WHERE r.repo = e.repo AND r.path = e.path)
        {order}""").fetchall()
    con.close()
    rng = np.random.RandomState(seed)
    absent = [(f"org{rng.randint(10_000, 99_999)}/none", f"src/missing_{i}.py", None)
              for i in range(n - len(hot) - len(cold) - len(deleted))]
    keys = hot + cold + deleted + absent
    order = rng.permutation(len(keys))
    return [keys[i] for i in order]


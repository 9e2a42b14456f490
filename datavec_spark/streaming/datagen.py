"""Deterministic CDC fixture generator (seed-stable, no external data).

Produces the `input_hint` shape: a base table of source-code repos
(repo, path, commit, lang, content) plus a binlog/WAL-style change-event
log with:

- strictly-increasing global `seq` (commit order), Zipf-skewed `repo` keys
  (hot-key / salting tests), event-time `ts` out of order within a bounded
  delay plus rare stragglers beyond it,
- ~70% update / 20% insert / 9% delete / 1% schema-change mix,
- ~2% duplicate deliveries (identical `seq`, re-emitted later in the
  stream — dedup/idempotency test),
- delete-then-reinsert chains (tombstone ordering test),
- an add_column → rename_column → widen_column chain plus a rename of a
  base column (`lang`→`language`) so field-id mapping is exercised.

`content` is computable identically in Python and in Spark SQL
(sha256-derived), so bench-scale verification never needs to collect data
to the driver. Mirrors the fixture contract in FIXTURES.md §A and the
reference's expected-rows test style
(datavec-spark/src/test/java/org/datavec/spark/transform/ExecutionTest.java:55-69).
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "scala", "c", "cpp", "go", "rust", "js", "md", "txt"]
EXTS = ["py", "java", "scala", "c", "cpp", "go", "rs", "js", "md", "txt"]
EXT_TO_LANG = dict(zip(EXTS, LANGS))

BASE_TS_US = 1704067200_000_000  # 2024-01-01T00:00:00Z in micros

EVENT_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        (
            "schema_change",
            pa.struct(
                [("col_name", pa.string()), ("new_name", pa.string()), ("new_type", pa.string())]
            ),
        ),
    ]
)


def repo_name(i: int) -> str:
    return f"org{i // 10}/project{i}"


def path_name(j: int) -> str:
    ext = EXTS[j % len(EXTS)]
    return f"src/module_{j // 20}/file_{j}.{ext}"


def lang_for(path: str) -> str:
    return EXT_TO_LANG[path.rsplit(".", 1)[1]]


def commit_for(repo: str, path: str, seq: int) -> str:
    return hashlib.sha256(f"c|{repo}|{path}|{seq}".encode()).hexdigest()[:40]


def content_for(repo: str, path: str, seq: int) -> str:
    """Deterministic pseudo-source text; identical formula exists as a Spark
    expression in replay.content_expr() for distributed generation/checks."""
    h = hashlib.sha256(f"{repo}|{path}|{seq}".encode()).hexdigest()
    k = 1 + int(h[:4], 16) % 8
    return h * k


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


# schema-evolution script: (fraction_of_stream, op, payload)
SCHEMA_SCRIPT = [
    (0.30, "add_column", {"col_name": "stars", "new_name": None, "new_type": "int"}),
    (0.45, "rename_column", {"col_name": "stars", "new_name": "stargazers", "new_type": None}),
    (0.60, "widen_column", {"col_name": "stargazers", "new_name": None, "new_type": "long"}),
    (0.75, "rename_column", {"col_name": "lang", "new_name": "language", "new_type": None}),
]


def generate_base_rows(n_keys: int, n_repos: int, paths_per_repo: int, seed: int = 42):
    """Deterministic base-table rows; key k -> (repo, path) with seq=0."""
    rng = np.random.RandomState(seed)
    repo_idx = rng.randint(0, n_repos, size=n_keys)
    path_idx = rng.randint(0, paths_per_repo, size=n_keys)
    seen = set()
    rows = []
    for ri, pj in zip(repo_idx.tolist(), path_idx.tolist()):
        key = (ri, pj)
        if key in seen:
            continue
        seen.add(key)
        repo, path = repo_name(ri), path_name(pj)
        rows.append(
            {
                "repo": repo,
                "path": path,
                "commit": commit_for(repo, path, 0),
                "lang": lang_for(path),
                "content": content_for(repo, path, 0),
            }
        )
    return rows


def generate_events(
    n_events: int,
    n_repos: int = 50,
    paths_per_repo: int = 40,
    seed: int = 42,
    zipf_alpha: float = 1.2,
    delay_us: int = 600_000_000,  # bounded out-of-order window: 10 min
    dup_frac: float = 0.02,
    straggler_frac: float = 0.005,
    with_schema_events: bool = True,
):
    """Return events as a list of dicts in EMISSION order (binlog delivery
    order: ~seq order with duplicates re-emitted later)."""
    rng = np.random.RandomState(seed + 1)

    # Zipf-skewed repo choice over a bounded universe: weight 1/rank^alpha
    ranks = np.arange(1, n_repos + 1, dtype=np.float64)
    w = 1.0 / ranks**zipf_alpha
    w /= w.sum()
    repo_idx = rng.choice(n_repos, size=n_events, p=w)
    path_idx = rng.randint(0, paths_per_repo, size=n_events)
    op_draw = rng.rand(n_events)
    # ts: commit order plus bounded jitter, rare stragglers far in the past
    gap_us = 50_000
    jitter = rng.randint(-delay_us // 2, delay_us // 2, size=n_events)
    ts = BASE_TS_US + np.arange(n_events, dtype=np.int64) * gap_us + jitter
    straggle = rng.rand(n_events) < straggler_frac
    ts[straggle] -= 5 * delay_us

    schema_positions = {}
    if with_schema_events and n_events >= 20:
        for frac, op, payload in SCHEMA_SCRIPT:
            schema_positions[int(n_events * frac)] = (op, payload)

    events = []
    live: set[tuple[int, int]] = set()
    for i in range(n_events):
        seq = i + 1
        if i in schema_positions:
            op, payload = schema_positions[i]
            events.append(
                {
                    "seq": seq,
                    "ts": int(ts[i]),
                    "op": op,
                    "repo": None,
                    "path": None,
                    "commit": None,
                    "lang": None,
                    "content": None,
                    "schema_change": payload,
                }
            )
            continue
        ri, pj = int(repo_idx[i]), int(path_idx[i])
        key = (ri, pj)
        repo, path = repo_name(ri), path_name(pj)
        d = op_draw[i]
        if d < 0.09 and key in live:
            op = "delete"
            live.discard(key)
        elif d < 0.29 or key not in live:
            op = "insert"  # includes delete-then-reinsert chains
            live.add(key)
        else:
            op = "update"
        if op == "delete":
            ev = {
                "seq": seq,
                "ts": int(ts[i]),
                "op": op,
                "repo": repo,
                "path": path,
                "commit": None,
                "lang": None,
                "content": None,
                "schema_change": None,
            }
        else:
            ev = {
                "seq": seq,
                "ts": int(ts[i]),
                "op": op,
                "repo": repo,
                "path": path,
                "commit": commit_for(repo, path, seq),
                "lang": lang_for(path),
                "content": content_for(repo, path, seq),
                "schema_change": None,
            }
        events.append(ev)

    # duplicate deliveries: re-emit ~dup_frac of events later in the stream
    n_dups = int(n_events * dup_frac)
    dup_src = rng.randint(0, n_events, size=n_dups)
    emission = list(events)
    for s in sorted(dup_src.tolist()):
        pos = min(s + rng.randint(1, 50), len(emission))
        emission.insert(pos, events[s])
    return emission


def events_to_table(events: list[dict]) -> pa.Table:
    cols = {name: [] for name in EVENT_SCHEMA.names}
    for ev in events:
        for name in EVENT_SCHEMA.names:
            cols[name].append(ev[name])
    arrays = []
    for field in EVENT_SCHEMA:
        if field.name == "ts":
            arrays.append(pa.array(cols["ts"], type=pa.timestamp("us")))
        else:
            arrays.append(pa.array(cols[field.name], type=field.type))
    return pa.Table.from_arrays(arrays, schema=EVENT_SCHEMA)


def write_event_chunks(events: list[dict], out_dir: str, n_chunks: int) -> list[str]:
    """Write the emission-ordered stream as n_chunks parquet files with
    increasing mtimes so Spark's file stream source picks them up in order."""
    os.makedirs(out_dir, exist_ok=True)
    table = events_to_table(events)
    n = table.num_rows
    paths = []
    base = time.time() - n_chunks * 2
    for c in range(n_chunks):
        lo = c * n // n_chunks
        hi = (c + 1) * n // n_chunks
        p = os.path.join(out_dir, f"events-{c:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        os.utime(p, (base + c, base + c))
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# distributed (Spark-side) event generation for bench scale
# ---------------------------------------------------------------------------


def events_df_spark(spark, n_events: int, n_repos: int = 2000, paths_per_repo: int = 100,
                    num_partitions: int = 64, zipf_pow: float = 3.0, dup_pct: int = 2):
    """Generate the change stream entirely in the JVM (hash-derived, seedless
    but deterministic): Zipf-ish skewed repos via a power transform of a
    uniform hash, 70/20/9 update/insert/delete mix (deletes of absent keys
    are no-ops — harmless for throughput benches), content/commit identical
    to the Python generator's formula modulo the seq-keyed hash. Scales to
    10^8+ rows with zero driver involvement; used by bench.py so the
    10^10-event claim extrapolates from a measured sustained rate."""
    from pyspark.sql import functions as F

    df = spark.range(1, n_events + 1, 1, num_partitions).withColumnRenamed("id", "seq")
    seq = F.col("seq")
    u = F.pmod(F.xxhash64(seq, F.lit(7)), F.lit(1_000_000)) / 1_000_000.0
    ridx = F.least(F.floor(F.lit(n_repos) * F.pow(u, F.lit(zipf_pow))).cast("int"),
                   F.lit(n_repos - 1))
    pidx = F.pmod(F.xxhash64(seq, F.lit(13)), F.lit(paths_per_repo)).cast("int")
    repo = F.concat(F.lit("org"), (ridx / 10).cast("int").cast("string"),
                    F.lit("/project"), ridx.cast("string"))
    ext = F.element_at(F.array(*[F.lit(e) for e in EXTS]), F.pmod(pidx, F.lit(len(EXTS))) + 1)
    path = F.concat(F.lit("src/module_"), (pidx / 20).cast("int").cast("string"),
                    F.lit("/file_"), pidx.cast("string"), F.lit("."), ext)
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), F.pmod(pidx, F.lit(len(EXTS))) + 1)
    d = F.pmod(F.xxhash64(seq, F.lit(23)), F.lit(100))
    op = F.when(d < 9, "delete").when(d < 29, "insert").otherwise("update")
    jitter = F.pmod(F.xxhash64(seq, F.lit(31)), F.lit(600_000_000)) - 300_000_000
    ts = F.timestamp_micros((F.lit(BASE_TS_US) + seq * 50_000 + jitter).cast("long"))
    h = F.sha2(F.concat_ws("|", repo, path, seq.cast("string")), 256)
    k = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 8) + 1
    content = F.when(op == "delete", F.lit(None).cast("string")).otherwise(F.repeat(h, k))
    commit = F.when(op == "delete", F.lit(None).cast("string")).otherwise(
        F.substring(F.sha2(F.concat_ws("|", F.lit("c"), repo, path, seq.cast("string")), 256), 1, 40))
    out = df.select(
        seq, ts.alias("ts"), op.alias("op"), repo.alias("repo"), path.alias("path"),
        commit.alias("commit"),
        F.when(op == "delete", F.lit(None).cast("string")).otherwise(lang).alias("lang"),
        content.alias("content"),
        F.lit(None).cast(
            "struct<col_name:string,new_name:string,new_type:string>"
        ).alias("schema_change"),
    )
    # duplicate re-deliveries, matching the python generator's model: most
    # dups re-emit a few positions after their original (they land in the
    # SAME delivery window — in-batch LWW/seq-fence no-ops), while a small
    # tail re-emits far later (hours of event time behind the stream max —
    # the lateness-SLA drop path). Emission order is materialized as an
    # explicit index so the parquet files (and therefore streaming
    # triggers) carry main events and near-dups interleaved in delivery
    # order with near-EVEN file sizes, instead of all dups bunched into
    # trailing near-empty files.
    emit_main = (seq * 64).alias("_emit")
    near_lag = F.pmod(F.xxhash64(seq, F.lit(43)), F.lit(50)) + 1
    is_far = F.pmod(F.xxhash64(seq, F.lit(47)), F.lit(10)) == 0  # ~10% of dups
    dup_emit = F.when(
        # python-side product: F.lit(n+1) * 64 would be an INT*INT Spark
        # expression, which overflows 32 bits past ~33.5M events
        is_far, F.lit((n_events + 1) * 64) + seq  # re-delivered at the very end
    ).otherwise((seq + near_lag) * 64 + 1).alias("_emit")
    dups = out.where(F.pmod(F.xxhash64(seq, F.lit(41)), F.lit(100)) < dup_pct)
    all_ev = (
        out.withColumn("_emit", emit_main)
        .unionByName(dups.withColumn("_emit", dup_emit))
        .repartitionByRange(num_partitions, F.col("_emit"))
        .sortWithinPartitions("_emit")
        .drop("_emit")
    )
    return all_ev

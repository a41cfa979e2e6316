"""Seeded input generators for the benchmark workloads.

Every generator takes the seed and a size, writes plain parquet files the engine
reads, and returns the tallies the correctness checks compare against. The
tallies are computed here in Python from the generated rows, never by the engine.

    python3 perfbench/gen.py --seed 1 --out /some/dir   # write both inputs, print tallies
"""

from __future__ import annotations

import collections
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# query log: hook-input rows (HOOK_INPUT_SCHEMA) for assess and ingest
# ---------------------------------------------------------------------------

LOG_START = dt.datetime(2024, 3, 4, tzinfo=dt.timezone.utc)  # a Monday, 00:00 UTC
DAYS = 7
N_USERS = 1_000_000
N_TABLES = 5_000
USER_ZIPF = 1.1
TABLE_ZIPF = 1.2
ORPHAN_SHARE = 0.03  # submitted, never completed
DUP_SHARE = 0.03  # completion delivered twice
FAIL_SHARE = 0.10  # ON_FAILURE_HOOK among completions
NULL_PLAN_SHARE = 0.01  # PRE rows with no query id (FLT4 drop)
UNKNOWN_HOOK_SHARE = 0.01  # rows with an unknown hook type (FLT5 drop)
MAX_DURATION_MS = 2 * 3600 * 1000 - 1000  # under the stream join window
MODES = ("MR", "TEZ", "LLAP", "DDL", "CLIENT_ONLY")
MODE_P = (0.25, 0.40, 0.15, 0.10, 0.10)
QUEUES = ("default", "etl", "adhoc", "bi", "ml")
DBS = ("sales", "ops", "hr", "web", "fin", "raw", "mart", "tmp")

_TASK = pa.struct([("task_type", pa.string()), ("is_llap", pa.bool_()), ("job_id", pa.string())])
_ENTITY = pa.struct([("entity_type", pa.string()), ("name", pa.string())])
_PERF = pa.map_(pa.string(), pa.struct([("start_millis", pa.int64()), ("duration_millis", pa.int64())]))
_COUNTERS = pa.list_(pa.list_(pa.struct([("group", pa.string()), ("counters", pa.map_(pa.string(), pa.int64()))])))
_TS = pa.timestamp("ms", tz="UTC")

#: Arrow form of the engine's HOOK_INPUT_SCHEMA (same names, order and types).
HOOK_ARROW_SCHEMA = pa.schema(
    [
        ("hook_type", pa.string()),
        ("query_id", pa.string()),
        ("query_type", pa.string()),
        ("query_text", pa.string()),
        ("query_start_time", _TS),
        ("event_time", _TS),
        ("execution_engine", pa.string()),
        ("hook_user_name", pa.string()),
        ("ugi_user_name", pa.string()),
        ("operation_id", pa.string()),
        ("session_id", pa.string()),
        ("invoker_info", pa.string()),
        ("thread_name", pa.string()),
        ("hive_version", pa.string()),
        ("client_ip", pa.string()),
        ("hive_address", pa.string()),
        ("is_hs2", pa.bool_()),
        ("default_db", pa.string()),
        ("error_message", pa.string()),
        ("queue_mr", pa.string()),
        ("queue_tez", pa.string()),
        ("queue_llap", pa.string()),
        ("tasks", pa.list_(_TASK)),
        ("inputs", pa.list_(_ENTITY)),
        ("outputs", pa.list_(_ENTITY)),
        ("perf", _PERF),
        ("counters_tez", _COUNTERS),
        ("counters_mr", _COUNTERS),
        ("yarn_application_id", pa.string()),
        ("tez_session_app_id", pa.string()),
        ("llap_app_id", pa.string()),
    ]
)


def zipf_ranks(rng: np.random.Generator, n_items: int, exponent: float, size: int) -> np.ndarray:
    """Draw `size` 0-based ranks from a Zipf law truncated to `n_items` items."""
    weights = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(weights)
    return np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")


def _tasks(mode: str, qid: int) -> list[dict]:
    if mode == "MR":
        return [
            {"task_type": "MAPRED", "is_llap": False, "job_id": f"job_1685098059769_{qid}"},
            {"task_type": "MAPRED", "is_llap": False, "job_id": f"job_1685098059769_{qid}_x"},
        ]
    if mode in ("TEZ", "LLAP"):
        return [{"task_type": "TEZ", "is_llap": mode == "LLAP", "job_id": None}]
    if mode == "DDL":
        return [{"task_type": "DDL", "is_llap": False, "job_id": None}]
    return []


def _queue(mode: str, queue: str) -> str | None:
    return queue if mode in ("MR", "TEZ", "LLAP") else None


def generate_query_log(seed: int, n_queries: int, n_files: int, out_dir: str) -> dict:
    """Write hook-input rows for `n_queries` queries over DAYS UTC days into
    `n_files` parquet files (one per capturing HiveServer2 host) under `out_dir`.

    Returns the generator's own tallies: the input properties, the expected
    constructed-event counts, and per-user / per-(queue, mode) / per-(day, status)
    / per-table aggregates of the correlated log, plus the matched pairs."""
    rng = np.random.default_rng(seed)
    users = zipf_ranks(rng, N_USERS, USER_ZIPF, n_queries)
    n_reads = rng.integers(1, 4, n_queries)
    read_ranks = zipf_ranks(rng, N_TABLES, TABLE_ZIPF, int(n_reads.sum()))
    writes = rng.random(n_queries) < 0.25
    write_ranks = zipf_ranks(rng, N_TABLES, TABLE_ZIPF, n_queries)
    modes = rng.choice(len(MODES), n_queries, p=MODE_P)
    queues = rng.integers(0, len(QUEUES), n_queries)
    start_ms = np.sort(rng.integers(0, DAYS * 86_400_000, n_queries))
    dur_ms = np.minimum(np.round(rng.lognormal(np.log(20_000), 1.2, n_queries)), MAX_DURATION_MS)
    dur_ms = np.maximum(dur_ms, 1).astype(np.int64)
    outcome = rng.random(n_queries)
    orphan = outcome < ORPHAN_SHARE
    failed = ~orphan & (rng.random(n_queries) < FAIL_SHARE)
    dup = ~orphan & (rng.random(n_queries) < DUP_SHARE)
    no_hook_user = rng.random(n_queries) < 0.05
    host = rng.integers(0, n_files, n_queries)
    base_ms = int(LOG_START.timestamp() * 1000)

    rows_by_file: list[list[dict]] = [[] for _ in range(n_files)]
    per_user: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0, 0, 0, -1])
    per_queue_mode: collections.Counter = collections.Counter()
    per_queue_mode_failed: collections.Counter = collections.Counter()
    per_day_status: collections.Counter = collections.Counter()
    table_reads: collections.Counter = collections.Counter()
    table_writes: collections.Counter = collections.Counter()
    submit_modes: collections.Counter = collections.Counter()
    events: list[tuple] = []  # (QueryId, EventType, Status, ExecutionMode, start ms, end ms)
    pairs: list[tuple[str, int, str]] = []
    late = 0
    read_pos = 0
    for i in range(n_queries):
        qid = f"hive_{seed}_{i:08d}"
        user = f"user{int(users[i]):07d}"
        mode = MODES[modes[i]]
        queue = QUEUES[queues[i]]
        t_read = sorted({f"{DBS[r % len(DBS)]}@tbl{r:05d}" for r in read_ranks[read_pos : read_pos + n_reads[i]]})
        read_pos += n_reads[i]
        w = int(write_ranks[i])
        t_write = [f"{DBS[w % len(DBS)]}@tbl{w:05d}"] if writes[i] else []
        start = base_ms + int(start_ms[i])
        tasks = _tasks(mode, i)
        qmode = {"queue_mr": queue, "queue_tez": queue, "queue_llap": queue}
        common = {
            "query_id": qid,
            "query_type": "DDL" if mode == "DDL" else "QUERY",
            "query_text": f"SELECT * FROM {t_read[0]} /* q{i} */",
            "query_start_time": dt.datetime.fromtimestamp(start / 1000, dt.timezone.utc),
            "execution_engine": "mr" if mode == "MR" else "tez",
            "hook_user_name": None if no_hook_user[i] else user,
            "ugi_user_name": user,
            "operation_id": f"op-{i}",
            "session_id": f"sess-{int(users[i]) % 9973}",
            "invoker_info": qid,
            "thread_name": f"HiveServer2-Handler-Pool: Thread-{i % 200}",
            "hive_version": "3.1.3",
            "client_ip": f"10.0.{i % 250}.{int(users[i]) % 250}",
            "hive_address": None if i % 7 == 0 else f"10.1.0.{host[i]}",
            "is_hs2": i % 11 != 0,
            "default_db": DBS[int(users[i]) % len(DBS)],
            "tasks": tasks,
            "inputs": [{"entity_type": "TABLE", "name": t} for t in t_read]
            + [{"entity_type": "PARTITION", "name": f"{t_read[0]}@dt=2024-03-0{1 + i % 7}"}]
            + [{"entity_type": "DATABASE", "name": t_read[0].split("@")[0]}],
            "outputs": [{"entity_type": "TABLE", "name": t} for t in t_write],
            **qmode,
        }
        pre = dict(common, hook_type="PRE_EXEC_HOOK", event_time=common["query_start_time"])
        rows_by_file[host[i]].append(pre)
        submit_modes[mode] += 1
        events.append((qid, "QUERY_SUBMITTED", None, mode, start, None))
        for t in t_read:
            table_reads[t] += 1
        for t in t_write:
            table_writes[t] += 1
        qm = (_queue(mode, queue), mode)
        per_queue_mode[qm] += 1
        day = (LOG_START + dt.timedelta(milliseconds=int(start_ms[i]))).date().isoformat()
        u = per_user[user]
        u[0] += 1
        if orphan[i]:
            u[2] += 1
            per_day_status[(day, None)] += 1
            continue
        end = start + int(dur_ms[i])
        status = "FAIL" if failed[i] else "SUCCESS"
        post = dict(
            common,
            hook_type="ON_FAILURE_HOOK" if failed[i] else "POST_EXEC_HOOK",
            event_time=dt.datetime.fromtimestamp(end / 1000, dt.timezone.utc),
            error_message="FAILED: SemanticException" if failed[i] else None,
            perf={
                "compile": {"start_millis": start, "duration_millis": 120 + i % 50},
                "execute": {"start_millis": start + 200, "duration_millis": int(dur_ms[i])},
                "cleanup": {"start_millis": end - 5, "duration_millis": 0},
            },
            counters_tez=(
                [[{"group": "HIVE", "counters": {"RECORDS_IN": i, "RECORDS_OUT": i // 2}}]]
                if mode in ("TEZ", "LLAP")
                else None
            ),
            counters_mr=(
                [[{"group": "FileSystemCounters", "counters": {"HDFS_BYTES_READ": 4096 * i}}]]
                if mode == "MR"
                else None
            ),
            tez_session_app_id=f"application_1685098059769_{i % 997}" if mode == "TEZ" else None,
            llap_app_id="application_1685098059769_1" if mode == "LLAP" else None,
        )
        copies = 2 if dup[i] else 1
        rows_by_file[host[i]].extend([post] * copies)
        events.extend([(qid, "QUERY_COMPLETED", status, None, None, end)] * copies)
        if dt.datetime.fromtimestamp(end / 1000, dt.timezone.utc).date().isoformat() != day:
            late += 1
        u[1] += int(failed[i])
        u[3] += int(dur_ms[i])
        u[4] = max(u[4], int(dur_ms[i]))
        per_queue_mode_failed[qm] += int(failed[i])
        per_day_status[(day, status)] += 1
        pairs.append((qid, int(dur_ms[i]), status))

    # FLT4 / FLT5 noise: rows the constructor must drop.
    n_null = int(round(n_queries * NULL_PLAN_SHARE))
    n_unknown = int(round(n_queries * UNKNOWN_HOOK_SHARE))
    for j in range(n_null + n_unknown):
        f = j % n_files
        src = rows_by_file[f][(j * 7919) % len(rows_by_file[f])]
        if j < n_null:
            rows_by_file[f].append(dict(src, query_id=None, hook_type="PRE_EXEC_HOOK"))
        else:
            rows_by_file[f].append(dict(src, hook_type="UNKNOWN_HOOK"))

    os.makedirs(out_dir, exist_ok=True)
    rows_in = 0
    for f, rows in enumerate(rows_by_file):
        rows.sort(key=lambda r: r["event_time"])  # arrival order per host
        rows_in += len(rows)
        table = pa.Table.from_pylist(rows, schema=HOOK_ARROW_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"hs2-{f:02d}.parquet"))

    completed = n_queries - int(orphan.sum())
    return {
        "properties": {
            "seed": seed,
            "queries": n_queries,
            "hook_rows": rows_in,
            "hook_files": n_files,
            "days": DAYS,
            "user_zipf": USER_ZIPF,
            "user_ids": N_USERS,
            "distinct_users": len(per_user),
            "table_zipf": TABLE_ZIPF,
            "table_ids": N_TABLES,
            "orphan_share": round(float(orphan.mean()), 4),
            "dup_completion_share": round(float(dup.sum()) / completed, 4),
            "failure_share": round(float(failed.sum()) / completed, 4),
            "late_arrival_share": round(late / completed, 4),
            "null_plan_rows": n_null,
            "unknown_hook_rows": n_unknown,
        },
        "rows_in": rows_in,
        "events": collections.Counter(events),
        "dup_rows": int(dup.sum()),
        "orphans": int(orphan.sum()),
        "submit_modes": dict(submit_modes),
        "per_user": {k: tuple(v) for k, v in per_user.items()},
        "per_queue_mode": {k: (n, per_queue_mode_failed[k]) for k, n in per_queue_mode.items()},
        "per_day_status": dict(per_day_status),
        "tables": {t: (table_reads[t], table_writes[t]) for t in set(table_reads) | set(table_writes)},
        "pairs": pairs,
    }


# ---------------------------------------------------------------------------
# corpus: documents + eval slice with planted duplicates and contamination
# ---------------------------------------------------------------------------

VOCAB = 20_000
VOCAB_ZIPF = 1.1
EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.02
CONTAM_SHARE = 0.01
N_EVAL = 200
CONTAM_SPAN = 20  # tokens copied verbatim from an eval doc (> the 13-gram band)
NEAR_DUP_EDIT_RATE = 0.005  # token substitutions per token of the base document
NEAR_DUP_MIN_TOKENS = 80  # one edit keeps 4-shingle Jaccard >= 0.9 at this length


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return sorted(words)


def shingles(tokens: list[str], k: int) -> set[str]:
    """Distinct word k-shingles, the engine's definition (space-joined windows)."""
    return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


def jaccard(a: list[str], b: list[str], k: int = 4) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    union = len(sa | sb)
    return round(len(sa & sb) / union, 6) if union else 0.0


def generate_corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write `documents.parquet` (doc_id, text) and `eval.parquet` under `out_dir`.

    Plants exact duplicates, near-duplicates with known token substitutions, and
    training documents that copy a CONTAM_SPAN-token span of an eval document.
    Returns the planted sets and each surviving document's token list."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_contam = int(n_docs * CONTAM_SHARE)
    n_base = n_docs - n_exact - n_near
    lengths = np.clip(np.round(rng.lognormal(np.log(120), 0.6, n_base + N_EVAL)), 24, 1500).astype(int)
    words = zipf_ranks(rng, VOCAB, VOCAB_ZIPF, int(lengths.sum()))
    docs: list[list[str]] = []
    pos = 0
    for n in lengths:
        docs.append([vocab[w] for w in words[pos : pos + n]])
        pos += n
    base, evals = docs[:n_base], docs[n_base:]

    # Disjoint roles among the base documents: near-copied (long enough that the
    # copy stays far above the Jaccard threshold), copied exactly, contaminated.
    roles = rng.permutation(n_base)
    long_enough = lengths[roles] >= NEAR_DUP_MIN_TOKENS
    near_src = roles[long_enough][:n_near]
    rest = np.setdiff1d(roles, near_src, assume_unique=True)
    rest = rest[rng.permutation(len(rest))]
    exact_src = rest[:n_exact]
    contam = rest[n_exact : n_exact + n_contam]
    for j, d in enumerate(contam):
        ev = evals[j % N_EVAL]
        at = int(rng.integers(0, max(1, len(ev) - CONTAM_SPAN)))
        cut = int(rng.integers(0, len(base[d])))
        base[d] = base[d][:cut] + ev[at : at + CONTAM_SPAN] + base[d][cut:]

    texts = list(base)
    near_pairs: list[tuple[int, int]] = []  # (base position, copy position)
    for s in exact_src:
        texts.append(list(base[s]))
    for s in near_src:
        copy = list(base[s])
        edits = max(1, int(round(len(copy) * NEAR_DUP_EDIT_RATE)))
        for p in rng.choice(len(copy), edits, replace=False):
            word = copy[p]
            while word == copy[p]:
                word = vocab[int(rng.integers(0, VOCAB))]
            copy[p] = word
        near_pairs.append((int(s), len(texts)))
        texts.append(copy)

    ids = rng.permutation(len(texts)) + 1  # doc_id of position p is ids[p]
    exact_groups = [(int(ids[s]), int(ids[n_base + j])) for j, s in enumerate(exact_src)]
    dropped = {max(a, b) for a, b in exact_groups}
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [" ".join(t) for t in texts]}),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(1, N_EVAL + 1), pa.int64()),
                "text": [" ".join(t) for t in evals],
            }
        ),
        os.path.join(out_dir, "eval.parquet"),
    )
    tokens_by_id = {int(ids[p]): t for p, t in enumerate(texts)}
    near = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in near_pairs}
    return {
        "properties": {
            "seed": seed,
            "documents": len(texts),
            "eval_documents": N_EVAL,
            "vocab": VOCAB,
            "vocab_zipf": VOCAB_ZIPF,
            "planted_exact_dups": n_exact,
            "planted_near_dups": n_near,
            "near_dup_edit_rate": NEAR_DUP_EDIT_RATE,
            "planted_contaminated": n_contam,
            "contam_span_tokens": CONTAM_SPAN,
            "tokens": int(sum(len(t) for t in texts)),
        },
        "tokens_by_id": tokens_by_id,
        "eval_tokens": evals,
        "exact_dropped": dropped,
        "near_pairs": near,
        "contaminated": {int(ids[d]) for d in contam},
    }


if __name__ == "__main__":
    import argparse
    import json
    import time

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", type=int, default=20_000)
    ap.add_argument("--docs", type=int, default=4_000)
    a = ap.parse_args()
    t0 = time.perf_counter()
    log = generate_query_log(a.seed, a.queries, 8, os.path.join(a.out, "hook"))
    t1 = time.perf_counter()
    corpus = generate_corpus(a.seed, a.docs, os.path.join(a.out, "corpus"))
    t2 = time.perf_counter()
    print(json.dumps({"query_log": log["properties"], "query_log_s": round(t1 - t0, 3),
                      "corpus": corpus["properties"], "corpus_s": round(t2 - t1, 3)}, indent=1))

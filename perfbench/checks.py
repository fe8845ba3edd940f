"""Correctness checks, each against a computation made apart from the
program: DuckDB over the generated files (warehouse_cdc); the generator's
labels, an independent byte-BPE count, the LSH banding law and an exact
brute-force top-k in numpy (corpus_refresh). Each check returns a list of failure messages; empty means
the outputs are correct."""

import collections
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

# ---------------------------------------------------------------- warehouse_cdc

TS = "'%Y-%m-%d %H:%M:%S'"

VIEW_KEYS = ["call_date", "call_month", "call_day", "call_hour", "user_name",
             "user_lastname", "user_complete_name", "user_email", "title",
             "cm_job_title", "department", "queue_name"]
VIEW_VALUES = [
    "total_agent_interaction", "total_contact_duration", "total_agent_afw_duration",
    "min_agent_longest_hold", "max_agent_longest_hold", "total_agent_conn_attempts",
    "total_customer_hold_duration", "unique_customers", "total_calls",
    "duration_less_2_minutes", "duration_2_to_5_minutes", "duration_6_to_20_minutes",
    "duration_21_to_45_minutes", "duration_46_to_90_minutes",
    "duration_more_than_90_minutes", "calls_9_13", "calls_13_17", "calls_17_00",
    "inbound_calls", "outbound_calls", "transfer_calls", "callback_calls"]


def _csvs(paths):
    return "read_csv([%s], all_varchar=true, header=true)" % ", ".join(
        "'%s'" % p for p in paths)


def _ts(c):
    return "try_strptime(%s, %s)" % (c, TS)


def expected_tables(con, inp, processed):
    """Keep-latest-per-key of seed and every processed drop, typed the way
    the cast battery types them, as DuckDB tables `exp_calls`, `exp_dim`."""
    drops = [os.path.join(inp, "drops", k) for k in processed]
    con.execute(f"""CREATE OR REPLACE TABLE exp_calls AS
      SELECT contact_id, coalesce(agent_id, '') AS agent_id,
        coalesce(agent_username, '') AS agent_username,
        coalesce(queue_id, '') AS queue_id, coalesce(init_method, '') AS init_method,
        coalesce(customer_phone, '') AS customer_phone,
        {_ts('init_time')} AS init_time, {_ts('agent_conn')} AS agent_conn,
        {_ts('disconn_time')} AS disconn_time,
        {_ts('last_update_time')} AS last_update_time,
        CAST({_ts('init_time')} AS DATE) AS init_date,
        CAST(agent_interact_duration AS BIGINT) AS agent_interact_duration,
        CAST(agent_afw_duration AS BIGINT) AS agent_afw_duration,
        CAST(agent_longest_hold AS BIGINT) AS agent_longest_hold,
        CAST(agent_conn_att AS BIGINT) AS agent_conn_att,
        CAST(customer_hold_duration AS BIGINT) AS customer_hold_duration
      FROM (SELECT *, row_number() OVER (PARTITION BY contact_id
              ORDER BY {_ts('last_update_time')} DESC) AS rn
            FROM {_csvs([os.path.join(inp, 'seed_calls', 'part.csv')] +
                        [os.path.join(d, 'calls.csv') for d in drops])})
      WHERE rn = 1""")
    con.execute(f"""CREATE OR REPLACE TABLE exp_dim AS
      SELECT user_id, coalesce(user_email, '') AS user_email,
        coalesce(user_name, '') AS user_name,
        coalesce(user_lastname, '') AS user_lastname,
        {_ts('last_modified')} AS last_modified
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY {_ts('last_modified')} DESC) AS rn
            FROM {_csvs([os.path.join(inp, 'seed_agents', 'part.csv')] +
                        [os.path.join(d, 'agents.csv') for d in drops])})
      WHERE rn = 1""")


def expected_view(con, inp):
    """The reference's `view_agent_metrics` aggregates over `exp_calls` and
    `exp_dim`, written as SQL."""
    q = os.path.join(inp, "queues", "part.csv")
    lit = os.path.join(inp, "litify_users", "part.csv")
    dur = "c.agent_interact_duration"
    ch, dh = "hour(c.agent_conn)", "hour(c.disconn_time)"

    def cnt(cond):
        return f"count(*) FILTER (WHERE {cond})"
    return f"""SELECT CAST(c.agent_conn AS DATE) AS call_date,
        month(c.agent_conn) AS call_month, day(c.agent_conn) AS call_day,
        hour(c.agent_conn) AS call_hour, u.user_name, u.user_lastname,
        u.user_name || ' ' || u.user_lastname AS user_complete_name, u.user_email,
        l.title, l.cm_job_title__c AS cm_job_title, l.department__c AS department,
        q.queue_name,
        sum({dur}) AS total_agent_interaction,
        sum(CAST(epoch(c.disconn_time) AS BIGINT) - CAST(epoch(c.agent_conn) AS BIGINT))
          AS total_contact_duration,
        sum(c.agent_afw_duration) AS total_agent_afw_duration,
        min(c.agent_longest_hold) AS min_agent_longest_hold,
        max(c.agent_longest_hold) AS max_agent_longest_hold,
        sum(c.agent_conn_att) AS total_agent_conn_attempts,
        sum(c.customer_hold_duration) AS total_customer_hold_duration,
        count(DISTINCT c.customer_phone) AS unique_customers,
        count(c.agent_conn) AS total_calls,
        {cnt(f'{dur} BETWEEN 0 AND 120')} AS duration_less_2_minutes,
        {cnt(f'{dur} BETWEEN 120 AND 300')} AS duration_2_to_5_minutes,
        {cnt(f'{dur} BETWEEN 360 AND 1200')} AS duration_6_to_20_minutes,
        {cnt(f'{dur} BETWEEN 1260 AND 2700')} AS duration_21_to_45_minutes,
        {cnt(f'{dur} BETWEEN 2760 AND 5400')} AS duration_46_to_90_minutes,
        {cnt(f'{dur} > 5400')} AS duration_more_than_90_minutes,
        {cnt(f'{ch} BETWEEN 9 AND 13 AND {dh} <= 13')} AS calls_9_13,
        {cnt(f'{ch} BETWEEN 13 AND 17 AND {dh} <= 17')} AS calls_13_17,
        {cnt(f'{ch} >= 17 AND {dh} >= 17')} AS calls_17_00,
        {cnt("c.init_method = 'INBOUND'")} AS inbound_calls,
        {cnt("c.init_method = 'OUTBOUND'")} AS outbound_calls,
        {cnt("c.init_method = 'TRANSFER'")} AS transfer_calls,
        {cnt("c.init_method = 'CALLBACK'")} AS callback_calls
      FROM exp_calls c
      LEFT JOIN exp_dim u ON c.agent_id = u.user_id
      LEFT JOIN {_csvs([q])} q ON c.queue_id = q.queue_id
      LEFT JOIN {_csvs([lit])} l ON c.agent_username = l.username
      WHERE c.agent_conn IS NOT NULL
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, l.cm_job_title_multi__c"""


CALL_PROJ = ("contact_id, agent_id, queue_id, init_method, customer_phone, "
             "CAST(epoch(init_time) AS BIGINT), CAST(epoch(agent_conn) AS BIGINT), "
             "CAST(epoch(disconn_time) AS BIGINT), CAST(epoch(last_update_time) AS BIGINT), "
             "CAST(init_date AS VARCHAR), agent_interact_duration, agent_afw_duration, "
             "agent_longest_hold, customer_hold_duration")
DIM_PROJ = ("user_id, user_email, user_name, user_lastname, "
            "CAST(epoch(last_modified) AS BIGINT)")


def _multiset(con, sql):
    return collections.Counter(tuple(r) for r in con.execute(sql).fetchall())


def _diff(name, want, got):
    if want == got:
        return []
    missing, extra = want - got, got - want
    return [f"{name}: {sum(missing.values())} expected rows missing, "
            f"{sum(extra.values())} unexpected rows (e.g. "
            f"{next(iter(missing or extra))})"]


def check_warehouse(inp, chk):
    con = duckdb.connect()
    with open(os.path.join(chk, "processed.txt")) as f:
        processed = [ln.strip() for ln in f if ln.strip()]
    with open(os.path.join(chk, "tables.json")) as f:
        tables = json.load(f)
    fails = []
    if processed != sorted(processed) or len(set(processed)) != len(processed):
        fails.append(f"drops processed out of order or twice: {processed}")
    ledger = _multiset(con, f"SELECT key FROM read_parquet('{tables['ledger']}/*.parquet')")
    if ledger != collections.Counter((k,) for k in processed):
        fails.append(f"ledger does not hold each processed drop exactly once: {ledger}")
    expected_tables(con, inp, processed)
    fails += _diff("f_calls", _multiset(con, f"SELECT {CALL_PROJ} FROM exp_calls"),
                   _multiset(con, f"SELECT {CALL_PROJ} FROM "
                                  f"read_parquet('{tables['f_calls']}/*/*.parquet', "
                                  "hive_partitioning = true)"))
    fails += _diff("dimension", _multiset(con, f"SELECT {DIM_PROJ} FROM exp_dim"),
                   _multiset(con, f"SELECT {DIM_PROJ} FROM "
                                  f"read_parquet('{tables['dim']}/*.parquet')"))
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in VIEW_KEYS) + ", " + \
        ", ".join(f"CAST({c} AS BIGINT)" for c in VIEW_VALUES)
    fails += _diff("view", _multiset(con, f"SELECT {cols} FROM ({expected_view(con, inp)})"),
                   _multiset(con, f"SELECT {cols} FROM read_parquet('{chk}/view/*.parquet')"))
    return fails


# --------------------------------------------------------------- corpus_refresh

NUM_HASHES, THRESHOLD = 32, 0.8


def bpe_tokens(texts, merges):
    """Total byte-level BPE token count of `texts`: apply each merge, in
    rank order, to every non-overlapping occurrence left to right (ASCII
    text, so chars are bytes); a text's count is the length of what is
    left. The texts are joined by NUL, which no merge contains, so one
    replace chain serves them all."""
    texts = list(texts)
    if any("\0" in t for t in texts) or any("\0" in a + b for a, b in merges):
        raise ValueError("NUL in a text or a merge")
    s = "\0".join(texts)
    for j, (a, b) in enumerate(merges):
        s = s.replace(a + b, chr(0xE000 + j))
    return len(s) - max(0, len(texts) - 1)


def near_reject_probability(jaccard):
    """Probability that a doc with this Jaccard to a prior doc is dropped:
    its MinHash signature must agree in >= THRESHOLD of NUM_HASHES slots
    (each agreeing with probability `jaccard`). That many agreements leave
    at least two of the 8 bands whole, so the band lookup finds it."""
    need = math.ceil(THRESHOLD * NUM_HASHES - 1e-9)
    return sum(math.comb(NUM_HASHES, j) * jaccard ** j * (1 - jaccard) ** (NUM_HASHES - j)
               for j in range(need, NUM_HASHES + 1))


def _docs(path):
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def check_corpus(inp, chk):
    fails = []
    with open(os.path.join(inp, "labels.json")) as f:
        labels = {int(k): v for k, v in json.load(f).items()}
    with open(os.path.join(chk, "triggers.txt")) as f:
        fed = [ln.strip() for ln in f if ln.strip()]
    with open(os.path.join(chk, "merges.json"), encoding="utf-8") as f:
        merges = json.load(f)
    with open(os.path.join(chk, "store.json")) as f:
        store = json.load(f)
    prior = _docs(os.path.join(inp, "prior", "part.parquet"))
    docs = {}
    for name in fed:
        docs.update(_docs(os.path.join(inp, "triggers", name)))
    ids = pq.read_table(os.path.join(chk, "index_ids")).column("doc_id").to_pylist()
    idset = set(ids)
    if len(ids) != len(idset):
        fails.append(f"index holds {len(ids) - len(idset)} duplicate ids")
    if not set(prior) <= idset:
        fails.append(f"index lost {len(set(prior) - idset)} prior vectors")
    accepted = idset - set(prior)
    if not accepted <= set(docs):
        fails.append(f"index holds {len(accepted - set(docs))} ids never fed")
    by_kind = collections.defaultdict(list)
    for d in docs:
        by_kind[labels[d]["kind"]].append(d)
    lost = [d for d in by_kind["original"] if d not in accepted]
    if lost:
        fails.append(f"{len(lost)} originals rejected, e.g. {lost[:3]}")
    for kind in ("exact_copy", "contaminated"):
        kept = [d for d in by_kind[kind] if d in accepted]
        if kept:
            fails.append(f"{len(kept)} {kind} docs accepted, e.g. {kept[:3]}")
    near = by_kind["near_copy"]
    p = [near_reject_probability(labels[d]["jaccard"]) for d in near]
    want = sum(p)
    sd = math.sqrt(sum(x * (1 - x) for x in p))
    got = sum(1 for d in near if d not in accepted)
    if abs(got - want) > 4 * sd + 2:
        fails.append(f"near copies rejected {got}/{len(near)}, LSH banding "
                     f"predicts {want:.1f} +- {sd:.1f}")
    tokens = bpe_tokens(list(prior.values()) + [docs[d] for d in accepted if d in docs],
                        merges)
    if store["tokens"] != tokens:
        fails.append(f"store holds {store['tokens']} tokens, byte-BPE of prior + "
                     f"accepted docs gives {tokens}")
    if store["max_tokens"] > store["budget"]:
        fails.append(f"a sequence holds {store['max_tokens']} tokens > budget "
                     f"{store['budget']}")
    return fails + check_serving(inp, chk, fed, accepted)


# ---------------------------------------------------- corpus_refresh: serving

RECALL_FLOOR = 0.80
UNIT_SCALE = 1000000.0


def _units(vecs):
    """The integer units the index ranks by: each float widened to double,
    scaled by 10^6 and truncated toward zero."""
    return np.trunc(np.asarray(vecs, dtype=np.float32).astype(np.float64)
                    * UNIT_SCALE).astype(np.int64)


def check_serving(inp, chk, fed, accepted):
    """Every probe batch served: ranks exactly 1..k, distances
    non-decreasing and equal to the exact integer L2 to each neighbour,
    every neighbour served at that time (prior or an accepted doc of a
    trigger drained by then), recall@k against the exact top-k (ties to
    the lower id) at least RECALL_FLOOR, and after each drain one batch
    carrying exactly the newest trigger's self-probes (negated ids of its
    originals), each answered by itself at rank 1, distance 0."""
    fails = []
    with open(os.path.join(chk, "serving.json")) as f:
        k = json.load(f)["k"]
    tabs = [pq.read_table(os.path.join(inp, "prior", "part.parquet"),
                          columns=["doc_id", "embedding"])]
    tabs += [pq.read_table(os.path.join(inp, "triggers", name), columns=["doc_id", "embedding"])
             for name in fed]
    ids = np.concatenate([np.asarray(t.column("doc_id").to_pylist()) for t in tabs])
    units = _units([v for t in tabs for v in t.column("embedding").to_pylist()])
    # the number of trigger files drained before a doc was served; prior = 0
    since = np.concatenate([np.full(t.num_rows, i) for i, t in enumerate(tabs)])
    served = np.array([i < tabs[0].num_rows or int(d) in accepted for i, d in enumerate(ids)])
    row_of = {int(d): n for n, d in enumerate(ids)}
    prb = pq.read_table(os.path.join(inp, "probes", "part.parquet")).to_pydict()
    p_units = _units(prb["embedding"])
    p_row = {int(d): n for n, d in enumerate(prb["doc_id"])}
    res = pq.read_table(os.path.join(chk, "results")).to_pandas()
    hits = possible = 0
    for n_fed, g in res.groupby("n_fed"):
        with open(os.path.join(inp, "self_probes",
                               fed[n_fed - 1].replace(".parquet", ".txt"))) as f:
            want = sorted(-int(x) for x in f.read().split())
        got = [sorted(set(o["probe_id"][o["probe_id"] < 0])) for _, o in g.groupby("read_op")]
        if [x for x in got if x] != [want]:
            fails.append(f"after {n_fed} triggers: self-probes served {got}, expected {want} once")
    for (op, pid), g in res.groupby(["read_op", "probe_id"]):
        g = g.sort_values("rank")
        live = served & (since <= int(g["n_fed"].iloc[0]))
        if list(g["rank"]) != list(range(1, k + 1)):
            fails.append(f"op {op} probe {pid}: ranks {list(g['rank'])}")
            continue
        d = list(g["l2_dist"])
        if d != sorted(d):
            fails.append(f"op {op} probe {pid}: distances decrease {d}")
        nb = [row_of.get(int(x)) for x in g["neighbor_id"]]
        if any(r is None or not live[r] for r in nb):
            fails.append(f"op {op} probe {pid}: neighbour not served at that time")
            continue
        q = units[row_of[-pid]] if pid < 0 else p_units[p_row[pid]]
        exact = [int(((units[r] - q) ** 2).sum()) for r in nb]
        if exact != d:
            fails.append(f"op {op} probe {pid}: reported distances {d[:3]}... "
                         f"differ from exact {exact[:3]}...")
        if pid < 0:
            if int(g["neighbor_id"].iloc[0]) != -pid or d[0] != 0:
                fails.append(f"op {op}: accepted doc {-pid} not found at rank 1")
            continue
        rows = np.nonzero(live)[0]
        dist = ((units[rows] - q) ** 2).sum(axis=1)
        top = ids[rows][np.lexsort((ids[rows], dist))[:k]]
        hits += len(set(top.tolist()) & set(int(x) for x in g["neighbor_id"]))
        possible += k
    if possible == 0 or hits < RECALL_FLOOR * possible:
        fails.append(f"recall@{k} {hits}/{possible} below {RECALL_FLOOR}")
    return fails


CHECKS = {"warehouse_cdc": check_warehouse, "corpus_refresh": check_corpus}

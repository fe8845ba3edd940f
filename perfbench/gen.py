"""Seeded input generators. They call no program code: each writes one
workload's inputs (and the labels the checks need) under a directory.
The same seed always gives the same files."""

import csv
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- warehouse_cdc

CALL_COLS = [
    "contact_id", "init_contact_id", "prev_contact_id", "next_contact_id",
    "channel", "init_method", "disconn_reason", "agent_id", "agent_username",
    "queue_id", "queue_name", "customer_voice", "customer_phone", "sys_phone",
    "init_time", "disconn_time", "last_update_time", "agent_conn",
    "agent_afw_start", "agent_afw_end", "in_queue_time", "out_queue_time",
    "conn_to_sys", "agent_conn_att", "agent_afw_duration",
    "agent_interact_duration", "agent_holds", "agent_longest_hold",
    "queue_duration", "customer_hold_duration", "contact_duration"]
AGENT_COLS = ["user_id", "user_email", "user_name", "user_lastname", "last_modified"]

WAREHOUSE = dict(agents=40, queues=8, seed_calls=10000, drops=8, drop_calls=1000,
                 drop_agents=4, days=30, new=0.5, update=0.3, dup=0.1, stale=0.1)

T0 = 1709251200  # 2024-03-01 00:00:00 UTC


def _ts(t):
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _write_csv(path, cols, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r.get(c) is None else r[c] for c in cols])


def gen_warehouse(out, seed):
    """Contact-record drops: all-string CSVs mixing new contacts, updated
    versions of known ones, duplicate versions inside one drop, and stale
    versions older than the target. Every version of a key has its own
    `last_update_time`, so keep-latest is unambiguous."""
    p = WAREHOUSE
    rng = random.Random(seed)
    clock = [T0 + 40 * 86400]  # every version gets a later update time

    def tick():
        clock[0] += rng.randint(5, 60)
        return clock[0]

    methods = ["INBOUND", "OUTBOUND", "TRANSFER", "CALLBACK"]
    contacts = {}  # id -> static attributes
    latest = {}    # id -> latest update time generated so far

    def new_contact(day):
        cid = "c%07d" % len(contacts)
        a = rng.randrange(p["agents"])
        contacts[cid] = dict(
            init=T0 + day * 86400 + rng.randint(6 * 3600, 22 * 3600),
            agent=a, queue=rng.randrange(p["queues"]), method=rng.choice(methods),
            phone="+1555%07d" % rng.randrange(2000))
        return cid

    def version(cid, lut):
        s = contacts[cid]
        # transfers name the contact they came from; a fifth of the
        # others name a follow-up contact
        other = "c%07d" % rng.randrange(len(contacts))
        prev = other if s["method"] == "TRANSFER" else None
        nxt = other if prev is None and rng.random() < 0.2 else None
        answered = rng.random() < 0.9
        conn = s["init"] + rng.randint(5, 300) if answered else None
        dur = rng.choice([rng.randint(0, 400), rng.randint(0, 3000), rng.randint(0, 7000)])
        disc = (conn or s["init"]) + dur + rng.randint(0, 120)
        afw = rng.randint(0, 300) if rng.random() < 0.95 else None
        return {
            "contact_id": cid, "init_contact_id": cid,
            "prev_contact_id": prev, "next_contact_id": nxt,
            "channel": "VOICE", "init_method": s["method"],
            "disconn_reason": rng.choice(["AGENT_DISCONNECT", "CUSTOMER_DISCONNECT"]),
            "agent_id": "a%03d" % s["agent"], "agent_username": "user%03d" % s["agent"],
            "queue_id": "q%02d" % s["queue"], "queue_name": "queue %d" % s["queue"],
            "customer_voice": "s3://recordings/%s.wav" % cid if rng.random() < 0.3 else None,
            "customer_phone": s["phone"], "sys_phone": "+18005550100",
            "init_time": _ts(s["init"]), "disconn_time": _ts(disc),
            "last_update_time": _ts(lut), "agent_conn": _ts(conn) if conn else None,
            "agent_afw_start": _ts(disc), "agent_afw_end": _ts(disc + (afw or 0)),
            "in_queue_time": _ts(s["init"] + 2), "out_queue_time": _ts(conn or disc),
            "conn_to_sys": _ts(s["init"]), "agent_conn_att": str(rng.randint(1, 3)),
            "agent_afw_duration": None if afw is None else str(afw),
            "agent_interact_duration": str(dur) if answered else None,
            "agent_holds": str(rng.randint(0, 3)),
            "agent_longest_hold": str(rng.randint(0, 200)),
            "queue_duration": str(rng.randint(0, 300)),
            "customer_hold_duration": str(rng.randint(0, 400)),
            "contact_duration": str(disc - s["init"])}

    def fresh_version(cid):
        lut = tick()
        latest[cid] = lut
        return version(cid, lut)

    seed_rows = [fresh_version(new_contact(rng.randrange(p["days"] - 5)))
                 for _ in range(p["seed_calls"])]
    _write_csv(os.path.join(out, "seed_calls", "part.csv"), CALL_COLS, seed_rows)

    agent_lut = {}

    def agent_row(a, lut, gen):
        return {"user_id": "a%03d" % a, "user_email": "agent%03d.%d@example.com" % (a, gen),
                "user_name": "Name%03d" % a, "user_lastname": "Last%03d_%d" % (a, gen),
                "last_modified": _ts(lut)}

    seed_agents = []
    for a in range(p["agents"]):
        agent_lut[a] = tick()
        seed_agents.append(agent_row(a, agent_lut[a], 0))
    _write_csv(os.path.join(out, "seed_agents", "part.csv"), AGENT_COLS, seed_agents)
    _write_csv(os.path.join(out, "queues", "part.csv"), ["queue_id", "queue_name", "last_modified"],
               [{"queue_id": "q%02d" % q, "queue_name": "queue %d" % q,
                 "last_modified": _ts(T0)} for q in range(p["queues"])])
    _write_csv(os.path.join(out, "litify_users", "part.csv"),
               ["username", "title", "cm_job_title__c", "department__c", "cm_job_title_multi__c"],
               [{"username": "user%03d" % a, "title": "Agent %d" % (a % 5),
                 "cm_job_title__c": "title%d" % (a % 3), "department__c": "dept%d" % (a % 4),
                 "cm_job_title_multi__c": "multi%d" % a} for a in range(p["agents"])])

    # a fixed drop (the same for every seed) whose optional columns are
    # empty in every row: staged through JSON lines, it shows whether an
    # all-null column survives the stage
    sparse = [{c: "" for c in CALL_COLS} | {
        "contact_id": "s%d" % i, "agent_id": "a000", "init_method": "INBOUND",
        "init_time": "2024-03-02 10:00:0%d" % i, "last_update_time": "2024-04-01 10:00:00",
        "agent_interact_duration": "60", "customer_voice": None} for i in range(2)]
    _write_csv(os.path.join(out, "sparse_drop", "calls.csv"), CALL_COLS, sparse)

    n = p["drop_calls"]
    for k in range(p["drops"]):
        day = min(p["days"] - 1, 20 + k // 6)
        known = list(latest)
        rows = []
        for _ in range(int(n * p["new"])):
            rows.append(fresh_version(new_contact(day - rng.randrange(2))))
        for cid in rng.sample(known, int(n * p["update"])):
            rows.append(fresh_version(cid))
        # two versions of one key inside the drop; the later one wins
        for cid in rng.sample(known, int(n * p["dup"]) // 2):
            rows.append(fresh_version(cid))
            rows.append(fresh_version(cid))
        # older than the target's current version: must not win
        for cid in rng.sample(known, int(n * p["stale"])):
            rows.append(version(cid, latest[cid] - rng.randint(1, 3)))
        rng.shuffle(rows)
        d = os.path.join(out, "drops", "d%04d" % k)
        _write_csv(os.path.join(d, "calls.csv"), CALL_COLS, rows)
        agents = []
        for a in rng.sample(range(p["agents"]), p["drop_agents"]):
            if rng.random() < 0.25:
                agents.append(agent_row(a, agent_lut[a] - 1, 99))  # stale
            else:
                agent_lut[a] = tick()
                agents.append(agent_row(a, agent_lut[a], k + 1))
        _write_csv(os.path.join(d, "agents.csv"), AGENT_COLS, agents)


# --------------------------------------------------------------- corpus_refresh

CORPUS = dict(vocab=4000, prior=2500, benchmark=30, triggers=5, per_trigger=1000,
              words=(25, 35), near_edits=1, sources=20, zipf=1.2,
              original=0.80, exact_copy=0.10, near_copy=0.05, contaminated=0.05,
              span=10, dim=32, clusters=32, spread=0.15, probe_batches=12, probes=16,
              self_probes=4)


def shingles(text, n=3):
    w = " ".join(text.split()).lower().split(" ")
    return {" ".join(w[i:i + n]) for i in range(max(1, len(w) - n + 1))}


def _table(cols):
    types = {"doc_id": pa.int64(), "source": pa.string(), "text": pa.string(),
             "embedding": pa.list_(pa.float32()), "batch": pa.int32()}
    return pa.table({k: pa.array(v, types[k]) for k, v in cols.items()})


def _write(out, name, cols):
    os.makedirs(os.path.join(out, name), exist_ok=True)
    pq.write_table(_table(cols), os.path.join(out, name, "part.parquet"))


def gen_corpus(out, seed):
    """A prior corpus plus trigger files. Each trigger mixes originals,
    exact copies (of prior docs and of earlier triggers' originals), near
    copies of prior docs (one word replaced), docs carrying a benchmark
    span, and a Zipf-skewed `source`. Labels record each doc's kind and,
    for near copies, the exact 3-word-shingle Jaccard with its source.
    Embeddings (independent of the text) and the probe batches are drawn
    from the same Gaussian clusters."""
    p = CORPUS
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(3, 8)))
                    for _ in range(p["vocab"])})
    weights = [1.0 / (r + 1) ** p["zipf"] for r in range(p["sources"])]
    sources = ["src%02d" % i for i in range(p["sources"])]
    centers = nrng.uniform(-1, 1, (p["clusters"], p["dim"]))

    def vecs(m):
        c = nrng.integers(0, p["clusters"], m)
        return (centers[c] + p["spread"] * nrng.standard_normal((m, p["dim"]))
                ).astype(np.float32).tolist()

    def text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(*p["words"])))

    def source():
        return rng.choices(sources, weights)[0]

    prior = [(i + 1, source(), text()) for i in range(p["prior"])]
    _write(out, "prior", {"doc_id": [d[0] for d in prior], "source": [d[1] for d in prior],
                          "text": [d[2] for d in prior], "embedding": vecs(len(prior))})
    bench = [" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(p["benchmark"])]
    _write(out, "benchmark", {"doc_id": [900000 + i for i in range(len(bench))],
                              "source": ["bench"] * len(bench), "text": bench})
    nprobe = p["probe_batches"] * p["probes"]
    _write(out, "probes", {"doc_id": [10 ** 9 + i for i in range(nprobe)],
                           "embedding": vecs(nprobe),
                           "batch": [i // p["probes"] for i in range(nprobe)]})

    labels = {}
    originals = []  # (id, text) of earlier triggers' originals
    next_id = 100000
    os.makedirs(os.path.join(out, "triggers"))
    os.makedirs(os.path.join(out, "self_probes"))
    kinds = ["original", "exact_copy", "near_copy", "contaminated"]
    for t in range(p["triggers"]):
        n = p["per_trigger"]
        counts = [int(n * p[k]) for k in kinds]
        counts[0] += n - sum(counts)
        plan = [k for k, c in zip(kinds, counts) for _ in range(c)]
        rng.shuffle(plan)
        rows, new_originals = [], []
        for kind in plan:
            if kind == "exact_copy" and not originals and t == 0:
                kind = "original"
            lab = {"kind": kind}
            if kind == "original":
                body = text()
            elif kind == "exact_copy":
                if originals and rng.random() < 0.5:
                    src_id, body = rng.choice(originals)
                else:
                    src_id, _, body = rng.choice(prior)
                lab["of"] = src_id
            elif kind == "near_copy":
                src_id, _, orig = rng.choice(prior)
                words = orig.split(" ")
                for i in rng.sample(range(len(words)), p["near_edits"]):
                    words[i] = rng.choice(vocab)
                body = " ".join(words)
                a, b = shingles(orig), shingles(body)
                lab.update(of=src_id, jaccard=len(a & b) / len(a | b))
            else:
                b = rng.choice(bench).split(" ")
                i = rng.randrange(len(b) - p["span"] + 1)
                words = text().split(" ")
                j = rng.randrange(len(words))
                body = " ".join(words[:j] + b[i:i + p["span"]] + words[j:])
            rows.append((next_id, source(), body))
            labels[str(next_id)] = lab
            if kind == "original":
                new_originals.append((next_id, body))
            next_id += 1
        originals.extend(new_originals)
        name = "t%04d" % t
        pq.write_table(_table({"doc_id": [r[0] for r in rows], "source": [r[1] for r in rows],
                               "text": [r[2] for r in rows], "embedding": vecs(len(rows))}),
                       os.path.join(out, "triggers", name + ".parquet"))
        # originals of this trigger, probed after it is drained: every
        # original is accepted, so each must come back at rank 1
        with open(os.path.join(out, "self_probes", name + ".txt"), "w") as f:
            f.write("".join("%d\n" % d for d, _ in new_originals[:p["self_probes"]]))
    with open(os.path.join(out, "labels.json"), "w") as f:
        json.dump(labels, f)


GENERATORS = {"warehouse_cdc": gen_warehouse, "corpus_refresh": gen_corpus}

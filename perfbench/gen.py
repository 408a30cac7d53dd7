"""Seeded input generators for the benchmark.

Two kinds of input, both deterministic in their seed (same seed, same
bytes):

* GitHub raw windows in the pipeline's raw-layer layout
  (``repos_raw.json``, ``branches_raw.json``, ``issues_raw.json``: JSON
  arrays, pretty-printed, fields per ``graft.pipeline.Schemas`` plus a few
  unread GitHub payload fields), together with the exact audit counts and
  dimension contents ``graft.pipeline.Runner`` must produce for them.
* TPC-H-ish analytics tables (``region`` ... ``embeddings``) in the
  ``<dir>/<name>.parquet`` layout ``graft.T`` loads, with the column names,
  types and value domains of the repo's sf test tables.
"""
import hashlib
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "delta", "graph", "query", "stream", "merge", "index",
         "cache", "parse", "vector", "shard", "batch", "lake", "table",
         "token", "model", "sched", "queue", "trace", "probe"]
LANGS = ["Scala", "Python", "Java", "Go", "Rust", None]
VISIBILITY = ["public", "private", "internal"]
LABELS = ["bug", "enhancement", "docs", "question", "perf", "good first issue"]
DAY = 86400


def login_hash(logins):
    """Order-insensitive 64-bit content hash of a set of logins: the sum
    mod 2**64 of each login's first 8 SHA-256 bytes (big-endian). The JVM
    side computes the same sum over a dimension table's login column."""
    total = 0
    for s in logins:
        total += int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")
    return format(total % (1 << 64), "016x")


def _iso(t):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t))


@dataclass
class WindowSpec:
    """Shape of one raw window. Rates are shares of the window's records."""
    repos: int
    branches: int
    issues: int
    update_rate: float = 0.3      # repos/issues re-sent from earlier windows
    redelivery_rate: float = 0.05  # records repeated later in the same file
    orphan_rate: float = 0.03     # issues whose repo is not in the window
    null_key_rate: float = 0.02   # records missing a key the pipeline drops
    new_user_rate: float = 0.4    # authors/assignees never seen before


@dataclass
class Universe:
    """Entities issued so far; windows draw returning entities from here."""
    rng: random.Random
    next_owner: int = 1
    next_repo: int = 1
    next_user: int = 1
    owners: list = field(default_factory=list)      # (id, login)
    repos: list = field(default_factory=list)       # repo dicts
    users: list = field(default_factory=list)       # (id, login)
    issues: dict = field(default_factory=dict)      # repo id -> [issue ids]
    next_issue: int = 1
    # dimension contents Runner should have accumulated so far
    owner_logins: set = field(default_factory=set)
    user_logins: set = field(default_factory=set)


def _new_owner(u):
    oid = u.next_owner
    u.next_owner += 1
    o = (1000 + oid, f"org-{oid:06d}")
    u.owners.append(o)
    return o


def _new_user(u):
    uid = u.next_user
    u.next_user += 1
    usr = (500000 + uid, f"dev-{uid:07d}")
    u.users.append(usr)
    return usr


def _pick_user(u, spec):
    r = u.rng
    if not u.users or r.random() < spec.new_user_rate:
        return _new_user(u)
    return u.users[r.randrange(len(u.users))]


def _repo_record(u, repo, t):
    r = u.rng
    owner_id, owner_login = repo["owner"]
    name = repo["name"]
    created = repo["created"]
    updated = max(created, t - r.randrange(DAY))
    full = f"{owner_login}/{name}"
    return {
        "id": repo["id"],
        "node_id": f"R_kgDO{repo['id']:010d}",
        "name": name,
        "full_name": full,
        "private": repo["visibility"] == "private",
        "owner": {"login": owner_login, "id": owner_id,
                  "type": "Organization",
                  "html_url": f"https://github.com/{owner_login}"},
        "html_url": f"https://github.com/{full}",
        "description": f"{name.replace('-', ' ')} toolkit rev {r.randrange(100)}",
        "fork": r.random() < 0.1,
        "url": f"https://api.github.com/repos/{full}",
        "created_at": _iso(created),
        "updated_at": _iso(updated),
        "pushed_at": _iso(max(created, updated - r.randrange(3600))),
        "homepage": None,
        "size": r.randrange(100000),
        "stargazers_count": r.randrange(5000),
        "watchers_count": r.randrange(5000),
        "language": r.choice(LANGS),
        "forks_count": (fc := r.randrange(800)),
        "archived": r.random() < 0.05,
        "disabled": False,
        "open_issues_count": r.randrange(300),
        "topics": r.sample(WORDS, r.randrange(4)),
        "visibility": repo["visibility"],
        "forks": fc,
        "default_branch": "main",
    }


def _issue_record(u, issue, t, spec):
    r = u.rng
    created = issue["created"]
    state = "closed" if r.random() < 0.4 else "open"
    updated = max(created, t - r.randrange(DAY))
    assignee = None
    if r.random() < 0.3:
        aid, alog = _pick_user(u, spec)
        assignee = {"login": alog, "id": aid, "type": "User"}
    rec = {
        "url": f"https://api.github.com/repos/x/{issue['repo_name']}/issues/{issue['number']}",
        "id": issue["id"],
        "node_id": f"I_kwDO{issue['id']:010d}",
        "number": issue["number"],
        "title": f"{r.choice(WORDS)} {r.choice(WORDS)} fails under load #{issue['number']}",
        "user": {"login": issue["author"][1], "id": issue["author"][0],
                 "type": "User"},
        "labels": [{"name": n, "color": "ededed"}
                   for n in r.sample(LABELS, r.randrange(3))],
        "state": state,
        "locked": r.random() < 0.02,
        "assignee": assignee,
        "comments": r.randrange(40),
        "created_at": _iso(created),
        "updated_at": _iso(updated),
        "closed_at": _iso(updated) if state == "closed" else None,
        "author_association": "CONTRIBUTOR",
        "body": "steps to reproduce: " + " ".join(r.choice(WORDS) for _ in range(12)),
        "repo_name": issue["repo_name"],
    }
    if r.random() < 0.25:
        rec["pull_request"] = {
            "url": rec["url"].replace("/issues/", "/pulls/"),
            "merged_at": _iso(updated) if state == "closed" else None}
    return rec


def _with_redeliveries(u, records, rate, remake):
    """Append re-sent copies (keep-last semantics pick the later copy)."""
    r = u.rng
    out = list(records)
    for rec in records:
        if r.random() < rate:
            out.append(remake(rec))
    return out


def make_window(u, spec, t):
    """Generate one raw window at epoch second ``t``; returns
    ``(files, expected)`` where ``files`` maps file name -> record list and
    ``expected`` is what a correct ``Runner.run`` reports for it."""
    r = u.rng
    # --- repos: returning (updated) and new
    n_ret = min(len(u.repos), int(spec.repos * spec.update_rate))
    window_repos = r.sample(u.repos, n_ret) if n_ret else []
    while len(window_repos) < spec.repos:
        owner = (_new_owner(u) if not u.owners or r.random() < 0.5
                 else u.owners[r.randrange(len(u.owners))])
        rid = u.next_repo
        u.next_repo += 1
        repo = {"id": 7000000 + rid, "owner": owner,
                "name": f"{r.choice(WORDS)}-{r.choice(WORDS)}-{rid}",
                "created": t - r.randrange(400 * DAY, 800 * DAY),
                "visibility": VISIBILITY[r.randrange(10) % 3 if r.random() < 0.1 else 0]}
        u.repos.append(repo)
        window_repos.append(repo)
    repo_recs = [_repo_record(u, rp, t) for rp in window_repos]
    repo_recs = _with_redeliveries(
        u, repo_recs, spec.redelivery_rate,
        lambda rec: {**rec, "stargazers_count": rec["stargazers_count"] + 1})
    # null-key repos: missing owner login, dropped by cleanRepos
    n_null = int(spec.repos * spec.null_key_rate)
    for i in range(n_null):
        bad = _repo_record(u, window_repos[i % len(window_repos)], t)
        bad["id"] = 9000000 + u.next_repo + i
        bad["owner"] = {"login": None, "id": None}
        bad["name"] = bad["full_name"] = f"ghost-{bad['id']}"
        repo_recs.insert(r.randrange(len(repo_recs) + 1), bad)
    repo_names = [rp["name"] for rp in window_repos]

    # --- branches: each on a repo of this window
    br_recs = []
    per = max(1, spec.branches // len(window_repos))
    for rp in window_repos:
        for b in range(per):
            if len(br_recs) >= spec.branches:
                break
            bname = "main" if b == 0 else f"feature/{r.choice(WORDS)}-{b}"
            br_recs.append({
                "name": bname,
                "commit": {"sha": format(r.getrandbits(160), "040x"),
                           "url": f"https://api.github.com/repos/{rp['name']}/commits"},
                "protected": b == 0,
                "repo_name": rp["name"]})
    br_recs = _with_redeliveries(
        u, br_recs, spec.redelivery_rate,
        lambda rec: {**rec, "commit": {**rec["commit"],
                                       "sha": format(r.getrandbits(160), "040x")}})
    for i in range(int(spec.branches * spec.null_key_rate)):
        br_recs.insert(r.randrange(len(br_recs) + 1),
                       {"name": None, "commit": {"sha": "0" * 40, "url": None},
                        "protected": False, "repo_name": repo_names[i % len(repo_names)]})

    # --- issues: returning issues of window repos, new ones, orphans
    issues = []
    n_orphan = int(spec.issues * spec.orphan_rate)
    while len(issues) < spec.issues - n_orphan:
        rp = window_repos[r.randrange(len(window_repos))]
        known = u.issues.setdefault(rp["id"], [])
        if known and r.random() < spec.update_rate:
            iss = known[r.randrange(len(known))]
        else:
            iid = u.next_issue
            u.next_issue += 1
            iss = {"id": 40000000 + iid, "repo_name": rp["name"],
                   "number": len(known) + 1, "author": _pick_user(u, spec),
                   "created": t - r.randrange(DAY, 300 * DAY)}
            known.append(iss)
        issues.append(iss)
    # a returning issue drawn twice becomes a same-window re-delivery
    for _ in range(n_orphan):
        iid = u.next_issue
        u.next_issue += 1
        issues.append({"id": 40000000 + iid, "repo_name": f"gone-repo-{iid}",
                       "number": 1, "author": _pick_user(u, spec),
                       "created": t - r.randrange(DAY, 300 * DAY)})
    r.shuffle(issues)
    iss_recs = [_issue_record(u, iss, t, spec) for iss in issues]
    iss_recs = _with_redeliveries(
        u, iss_recs, spec.redelivery_rate,
        lambda rec: {**rec, "comments": rec["comments"] + 1})
    for i in range(int(spec.issues * spec.null_key_rate)):
        bad = _issue_record(u, issues[i % len(issues)], t, spec)
        bad["id"] = 90000000 + u.next_issue + i
        bad["user"] = None
        iss_recs.insert(r.randrange(len(iss_recs) + 1), bad)

    expected = _expect(u, repo_recs, br_recs, iss_recs)
    files = {"repos_raw.json": repo_recs, "branches_raw.json": br_recs,
             "issues_raw.json": iss_recs}
    return files, expected


def _expect(u, repo_recs, br_recs, iss_recs):
    """Audit counts and dimension contents per Transform's rules: drop
    null keys, keep the last record per natural key, drop orphan issues,
    union-accumulate owners/users (existing rows win)."""
    valid_repos = {}
    for rec in repo_recs:
        o = rec["owner"]
        if rec["id"] is not None and o and o["id"] is not None and o["login"] is not None:
            valid_repos[rec["id"]] = rec
    clean_names = {rec["name"] for rec in valid_repos.values()}
    u.owner_logins |= {rec["owner"]["login"] for rec in valid_repos.values()}

    branch_keys = {(b["repo_name"], b["name"]) for b in br_recs if b["name"] is not None}

    last = {}
    for rec in iss_recs:
        us = rec["user"]
        if (rec["id"] is not None and rec["repo_name"] is not None and us
                and us["login"] is not None and us["id"] is not None):
            last[rec["id"]] = rec
    kept = [rec for rec in last.values() if rec["repo_name"] in clean_names]
    for rec in kept:
        u.user_logins.add(rec["user"]["login"])
        if rec["assignee"] and rec["assignee"]["login"] is not None:
            u.user_logins.add(rec["assignee"]["login"])

    return {
        "audits": {
            "repos": [len(repo_recs), len(valid_repos)],
            "owners": [len(valid_repos), len(u.owner_logins)],
            "branches": [len(br_recs), len(branch_keys)],
            "issues": [len(iss_recs), len(kept)],
            "users": [len(kept), len(u.user_logins)],
        },
        "dims": {
            "owners": [len(u.owner_logins), login_hash(u.owner_logins)],
            "users": [len(u.user_logins), login_hash(u.user_logins)],
        },
        "records": len(repo_recs) + len(br_recs) + len(iss_recs),
    }


def write_window(dir_path, files):
    """Write a window's raw files; returns total raw bytes."""
    os.makedirs(dir_path, exist_ok=True)
    total = 0
    for name, recs in files.items():
        data = json.dumps(recs, indent=2, sort_keys=False).encode()
        with open(os.path.join(dir_path, name), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def ingest_windows(seed, specs, t0=1_700_000_000, step=DAY):
    """Generate a sequence of windows over one universe (later windows
    update, re-send and extend earlier ones). Yields (files, expected)."""
    u = Universe(rng=random.Random(seed))
    for i, spec in enumerate(specs):
        yield make_window(u, spec, t0 + i * step)


# ---------------------------------------------------------------- analytics

ADJ = ["small", "red", "blue", "hot", "old", "large", "shiny", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "table", "data", "agg", "value", "key", "stream", "window", "a",
             "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANG_P = [("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14)]
US = 1_000_000


def _ts(us_values):
    return pa.array(np.asarray(us_values, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(sf, seed):
    """TPC-H-ish star schema plus events/documents/embeddings at scale
    factor ``sf`` (sf 0.01: 60k lineitem rows). Returns name -> pa.Table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    day0 = 788918400  # 1995-01-01
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    odate = day0 + rng.integers(0, 2404, n_ord) * DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odate * US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts((day0 + rng.integers(0, 2500, n_li) * DAY) * US)})
    ev_ts = 1704067200 * US + np.sort(rng.integers(0, 30 * DAY * US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, 30, int(rng.integers(10, 100)))]))
    langs = [l for l, _ in LANG_P]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(langs)[rng.choice(5, n_doc, p=[p for _, p in LANG_P])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_tables(dir_path, tables):
    os.makedirs(dir_path, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(dir_path, f"{name}.parquet"))

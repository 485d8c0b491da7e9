"""Seeded input generators for the benchmark.

Two corpora, both a pure function of (seed, size):

* ``warehouse(out_dir, seed, sf)`` writes the ten parquet tables the query
  registry reads (region nation customer supplier part orders lineitem
  events documents embeddings), with the column names, types and value
  domains of the repository's sf0.x test corpus.
* ``crawl(raw_root, seed, days, docs_per_day)`` writes ghcrawler-shaped
  JSON, one file set per ingest day under ``raw/yyyy/MM/dd/*.json``, and
  returns what the curated tables must hold after each day.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# warehouse corpus
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.43, 0.15, 0.13, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts(start, n_days, rng, n):
    """`n` day-granular timestamps in [start, start + n_days)."""
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def warehouse(out_dir, seed, sf):
    """Write the query corpus at scale factor `sf` (lineitem = 6e6 * sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_ts("1995-01-02", 2499, rng, n_li))})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.09, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


# ---------------------------------------------------------------------------
# crawl corpus
# ---------------------------------------------------------------------------

# entity mix: (staging type, urn prefix, share of a day's documents)
ENTITIES = [("commit", "commit", 0.40), ("issue", "issue", 0.20),
            ("PushEvent", "event", 0.20), ("repo", "repo", 0.10),
            ("user", "user", 0.10)]
URN_PREFIX = {kind: prefix for kind, prefix, _ in ENTITIES}
REVISIT_SHARE = 0.30    # share of a day's documents that re-crawl an earlier day's key
MALFORMED_SHARE = 0.01  # blank or unparseable lines, dropped by staging
FILES_PER_DAY = 4
# tables with rows under this entity mix; every other curated table stays empty
SNAPSHOT_OF = {"commit": "commit", "issue": "issue", "PushEvent": "event",
               "repo": "repo", "user": "user"}
ARRAYS_OF = {"commit": [("commit_file", "files"), ("commit_parent", "parents")],
             "issue": [("issue_label", "labels")],
             "PushEvent": [("event_payload_commit", "commits")]}
FIRST_DAY = dt.date(2024, 3, 1)


def day_date(d):
    return FIRST_DAY + dt.timedelta(days=d)


def _doc(kind, key, day, j, n, rng, n_repos, n_users):
    """One crawled document and its `info` (array lengths, RepoLog version).
    `j` orders the day's documents in time, so a later crawl of a key always
    carries a later processedAt."""
    date = day_date(day).isoformat()
    sec = (j * 86_399) // n
    ts = f"{date}T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}Z"
    repo_k = int(rng.integers(0, max(1, n_repos)))
    user_k = int(rng.integers(0, max(1, n_users)))
    links = {"self": {"href": f"urn:{URN_PREFIX[kind]}:{key}"},
             "repo": {"href": f"urn:repo:{repo_k}"},
             "siblings": {"href": f"urn:{kind}:siblings"}}
    info = {}
    if kind == "commit":
        files = [{"sha": f"f{key}-{day}-{i}", "filename": f"src/m{key % 97}/f{i}.scala",
                  "status": ["added", "modified", "removed"][i % 3],
                  "additions": int(rng.integers(0, 200)), "deletions": int(rng.integers(0, 80)),
                  "changes": int(rng.integers(0, 280))}
                 for i in range(int(rng.integers(1, 5)))]
        parents = [{"sha": f"p{key}-{i}", "url": f"https://api.github.com/c/p{key}-{i}"}
                   for i in range(int(rng.integers(1, 3)))]
        info = {"files": len(files), "parents": len(parents)}
        body = {"sha": f"c{key}", "comment_count": int(rng.integers(0, 9)),
                "author": {"id": user_k, "login": f"u{user_k}", "site_admin": False, "type": "User"},
                "committer": {"id": user_k, "login": f"u{user_k}"},
                "commit": {"author": {"date": ts, "email": f"u{user_k}@example.com", "name": f"User {user_k}"},
                           "committer": {"date": ts, "email": f"u{user_k}@example.com", "name": f"User {user_k}"},
                           "message": f"change {key} on day {day}", "tree": {"sha": f"t{key}-{day}"}},
                "stats": {"additions": int(rng.integers(0, 500)), "deletions": int(rng.integers(0, 200)),
                          "total": int(rng.integers(0, 700))},
                "url": f"https://api.github.com/commits/c{key}",
                "files": files, "parents": parents}
    elif kind == "issue":
        labels = [{"id": 100 + i, "name": ["bug", "docs", "perf"][i], "color": "ededed",
                   "url": f"https://api.github.com/labels/{i}", "default": i == 0}
                  for i in range(int(rng.integers(0, 4)))]
        info = {"labels": len(labels)}
        links["user"] = {"href": f"urn:user:{user_k}"}
        body = {"id": key, "number": key % 5000, "state": ["open", "closed"][int(rng.integers(0, 2))],
                "title": f"issue {key}", "body": f"seen on day {day}", "comments": int(rng.integers(0, 30)),
                "locked": False, "created_at": f"{FIRST_DAY.isoformat()}T00:00:00Z", "updated_at": ts,
                "user": {"id": user_k, "login": f"u{user_k}", "site_admin": False, "type": "User"},
                "labels": labels}
    elif kind == "PushEvent":
        commits = [{"sha": f"e{key}-{i}", "author": {"email": f"u{user_k}@example.com", "name": f"User {user_k}"},
                    "distinct": i % 2 == 0, "message": f"push {key}.{i}", "url": "https://api.github.com/x"}
                   for i in range(int(rng.integers(1, 4)))]
        info = {"commits": len(commits)}
        links["actor"] = {"href": f"urn:user:{user_k}"}
        body = {"id": str(key), "type": "PushEvent", "public": True, "created_at": ts,
                "actor": {"id": user_k, "login": f"u{user_k}"},
                "repo": {"id": repo_k, "name": f"o/r{repo_k}"},
                "payload": {"push_id": key, "size": len(commits), "ref": "refs/heads/main",
                            "before": f"b{key}", "commits": commits}}
    elif kind == "repo":
        links["owner"] = {"href": f"urn:user:{user_k}"}
        body = {"id": key, "name": f"r{key}", "full_name": f"o{user_k}/r{key}",
                "owner": {"id": user_k, "login": f"u{user_k}"}, "private": False, "fork": key % 7 == 0,
                "language": ["Scala", "Python", "Go", "C"][key % 4], "default_branch": "main",
                "description": f"repository {key}", "forks": key % 50, "forks_count": key % 50,
                "stargazers_count": int(rng.integers(0, 1000)), "watchers_count": int(rng.integers(0, 1000)),
                "size": int(rng.integers(0, 100_000)), "open_issues_count": int(rng.integers(0, 40)),
                "has_issues": True, "created_at": "2020-01-01T00:00:00Z",
                # hour-granular: two crawls of a repo within one hour are one RepoLog version
                "updated_at": f"{date}T{sec // 3600:02d}:00:00Z", "pushed_at": ts}
        info = {"updated_at": body["updated_at"]}
    else:
        body = {"id": key, "login": f"u{key}", "type": "User", "site_admin": False,
                "name": f"User {key}", "company": "Example", "blog": "https://example.com",
                "location": "Earth", "email": f"u{key}@example.com", "hireable": key % 3 == 0,
                "bio": f"bio {day}", "public_repos": int(rng.integers(0, 40)),
                "public_gists": int(rng.integers(0, 10)), "followers": int(rng.integers(0, 300)),
                "following": int(rng.integers(0, 300)),
                "created_at": "2019-01-01T00:00:00Z", "updated_at": ts}
    meta = {"type": kind, "fetchedAt": ts, "processedAt": ts, "version": 7, "links": links}
    return json.dumps({"_metadata": meta, **body}, separators=(",", ":")), info


MALFORMED = ["", "   ", '{"_metadata":{"type":', "not json at all", '{"_metadata":{"links":{"self":']


def crawl(raw_root, seed, days, docs_per_day):
    """Write `days` ingest days and return per-day facts:
    ``[{"date", "lines", "docs", "keys": {entity: distinct keys so far},
    "tables": {curated table: expected rows after landing this day},
    "mor_tables": {the same for the merge-on-read views}}]``."""
    rng = np.random.default_rng(seed + 7919)
    n_keys = {e[0]: 0 for e in ENTITIES}          # keys created so far, per entity
    child_len = {t: {} for ts in ARRAYS_OF.values() for t, _ in ts}  # table -> key -> max len
    repo_versions = set()
    parent_rows_total = 0
    facts = []
    kinds = [e[0] for e in ENTITIES]
    shares = np.array([e[2] for e in ENTITIES])
    for day in range(days):
        d = day_date(day)
        out = os.path.join(raw_root, f"{d.year:04d}", f"{d.month:02d}", f"{d.day:02d}")
        os.makedirs(out, exist_ok=True)
        start_keys = dict(n_keys)
        lines, n_docs = [], 0
        for j, ki in enumerate(rng.choice(len(kinds), docs_per_day, p=shares)):
            if rng.random() < MALFORMED_SHARE:
                lines.append(MALFORMED[int(rng.integers(0, len(MALFORMED)))])
                continue
            kind = kinds[ki]
            if start_keys[kind] > 0 and rng.random() < REVISIT_SHARE:
                key = int(rng.integers(0, start_keys[kind]))
            else:
                key = n_keys[kind]
                n_keys[kind] += 1
            line, info = _doc(kind, key, day, j, docs_per_day, rng,
                              max(n_keys["repo"], 1), max(n_keys["user"], 1))
            lines.append(line)
            n_docs += 1
            for table, path in ARRAYS_OF.get(kind, []):
                seen = child_len[table]
                seen[key] = max(seen.get(key, 0), info[path])
            if kind == "repo":
                repo_versions.add((key, info["updated_at"]))
        per = (len(lines) + FILES_PER_DAY - 1) // FILES_PER_DAY
        for f in range(FILES_PER_DAY):
            with open(os.path.join(out, f"part{f}.json"), "w") as fh:
                fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
        tables = {SNAPSHOT_OF[k]: n_keys[k] for k in kinds}
        tables["repo_log"] = len(repo_versions)
        for table, seen in child_len.items():
            tables[table] = sum(seen.values())
        # commit_parent keeps the reference's missing TRUNCATE: each day
        # appends the whole latest-wins table to what is already there
        parent_rows_total += tables["commit_parent"]
        mor_parent = tables["commit_parent"]
        tables["commit_parent"] = parent_rows_total
        facts.append({"date": d.isoformat(), "lines": len(lines), "docs": n_docs,
                      "keys": dict(n_keys), "tables": tables,
                      "mor_tables": {**tables, "commit_parent": mor_parent}})
    return facts

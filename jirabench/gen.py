"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``tables``: the star schema the query workloads read (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings), with the column names, physical parquet types and value
  domains of the engine's test data, scaled by ``sf``.
* ``jira``: a day-by-day model of a Jira/Tempo account (issues, worklogs,
  users). Day 1 is a backfill; each later day re-sends a seeded share of
  the existing keys with new field values and adds new keys. The model
  yields the raw API records (what the server sends) and, computed here
  and not by the engine, the flat rows the P1-P3 mapping must produce and
  the final table the last day that sent each key decides.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """n random midnights in [start, end) as datetime64[us]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, seed, sf):
    """Write the ten tables for scale factor ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01",
                                      "2001-08-02"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02",
                                     "2001-11-05"), pa.timestamp("us"))})
    # events: ids in time order over January 2024 (30 days)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], s)})
    # documents: random word strings; one in twenty is an earlier
    # document's text plus a marker token (near duplicates for dedup)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ------------------------------------------------------------------ jira

BASE = "https://jira.example.net"
TEMPO = "https://api.tempo.example"

ISSUE_COLS = [
    ("issue_id", "s"), ("issue_url", "s"), ("issue_key", "s"),
    ("fields_resolution_url", "s"), ("fields_resolution_id", "s"),
    ("fields_resolution_description", "s"), ("fields_resolution_name", "s"),
    ("fields_priority_name", "s"), ("fields_labels", "s")]
for _p in ("assignee", "status", "creator", "reporter"):
    if _p == "status":
        ISSUE_COLS += [("fields_status_url", "s"),
                       ("fields_status_description", "s"),
                       ("fields_status_name", "s"),
                       ("fields_status_statusCategory_url", "s"),
                       ("fields_status_statusCategory_key", "s"),
                       ("fields_status_statusCategory_name", "s")]
    else:
        ISSUE_COLS += [(f"fields_{_p}_url", "s"),
                       (f"fields_{_p}_account_id", "s"),
                       (f"fields_{_p}_displayname", "s"),
                       (f"fields_{_p}_active", "b"),
                       (f"fields_{_p}_timezone", "s"),
                       (f"fields_{_p}_accounttype", "s")]
ISSUE_COLS += [
    ("fields_progress_progress", "l"), ("fields_progress_total", "l"),
    ("fields_progress_percent", "l"), ("fields_timespent", "l"),
    ("fields_project_url", "s"), ("fields_project_id", "s"),
    ("fields_project_key", "s"), ("fields_project_name", "s"),
    ("fields_project_projecttypekey", "s"), ("fields_summary", "s")]
USER_COLS = [("url", "s"), ("account_id", "s"), ("account_type", "s"),
             ("avatarUrls_avatar_url", "s"), ("display_name", "s"),
             ("active", "b")]
WORKLOG_COLS = [
    ("url", "s"), ("tempo_worklog_id", "l"), ("issue_id", "l"),
    ("issue_url", "s"), ("time_spent_seconds", "l"),
    ("billable_seconds", "l"), ("start_date", "d"), ("start_time", "s"),
    ("description", "s"), ("created_at", "t"), ("updated_at", "t"),
    ("author_id", "s"), ("author_url", "s")]
COLS = {"issues": ISSUE_COLS, "users": USER_COLS, "worklogs": WORKLOG_COLS}
KEYS = {"issues": "issue_id", "users": "account_id",
        "worklogs": "tempo_worklog_id"}
STATUS = [("To Do", "new", "To Do"), ("In Progress", "indeterminate",
          "In Progress"), ("Done", "done", "Done")]


def _person(u, none, no_tz):
    """A raw Jira person object for user ``u``, or None (unassigned)."""
    if none:
        return None
    p = {"self": f"{BASE}/rest/api/3/user?accountId=acc-{u}",
         "accountId": f"acc-{u}", "displayName": f"User {u}",
         "active": bool(u % 11 != 3), "timeZone": "Etc/UTC",
         "accountType": "atlassian",
         "avatarUrls": {"48x48": f"{BASE}/a/{u}.png"}}
    if no_tz:
        del p["timeZone"]  # a missing field maps to NULL
    return p


def _issues(rng, keys, day, n_users):
    n = len(keys)
    st = rng.integers(0, 3, n)
    n_labels = rng.integers(0, 4, n)
    labels = rng.integers(0, 9, (n, 3))
    people = rng.integers(0, n_users, (n, 3))
    no_person = rng.random((n, 3)) < 0.1
    no_tz = rng.random((n, 3)) < 0.05
    prio = rng.integers(1, 5, n)
    total = rng.integers(0, 200_000, n)
    done = (rng.random(n) * (total + 1)).astype(np.int64)
    spent = rng.integers(60, 500_000, n)
    no_spent = rng.random(n) < 0.2
    words = rng.integers(0, len(WORDS), (n, 8))
    no_summary = rng.random(n) < 0.05
    out = []
    for i, key in enumerate(keys):
        name, cat, cat_name = STATUS[st[i]]
        res = None if cat != "done" else {
            "self": f"{BASE}/rest/api/3/resolution/{key % 4}",
            "id": str(key % 4), "description": "work finished", "name": "Done"}
        t, d = int(total[i]), int(done[i])
        f = {
            "resolution": res,
            "priority": {"name": f"P{prio[i]}", "iconUrl": f"{BASE}/p.svg"},
            "labels": [f"lbl{x}" for x in labels[i, :n_labels[i]]],
            "assignee": _person(people[i, 0], no_person[i, 0], no_tz[i, 0]),
            "status": {"self": f"{BASE}/rest/api/3/status/{cat}",
                       "description": f"{name} (day {day})", "name": name,
                       "id": cat,
                       "statusCategory": {
                           "self": f"{BASE}/rest/api/3/statuscategory/{cat}",
                           "id": len(cat), "key": cat, "colorName": "grey",
                           "name": cat_name}},
            "creator": _person(people[i, 1], no_person[i, 1], no_tz[i, 1]),
            "reporter": _person(people[i, 2], no_person[i, 2], no_tz[i, 2]),
            "progress": {"progress": d, "total": t,
                         "percent": (100 * d // t) if t else None},
            "timespent": None if no_spent[i] else int(spent[i]),
            "project": {"self": f"{BASE}/rest/api/3/project/{key % 7}",
                        "id": str(1000 + key % 7), "key": f"PRJ{key % 7}",
                        "name": f"Project {key % 7}",
                        "projectTypeKey": "software"},
            "issuetype": {"id": "10001", "name": "Task", "subtask": False},
            "created": "2024-01-01T09:00:00.000+0000",
            "summary": f"issue {key} revision {day} "
                       + " ".join(WORDS[j] for j in words[i]),
        }
        if no_summary[i]:
            del f["summary"]
        out.append({"id": str(key), "self": f"{BASE}/rest/api/3/issue/{key}",
                    "key": f"PRJ{key % 7}-{key}", "expand": "operations",
                    "fields": f})
    return out


def _users(rng, keys, day):
    n = len(keys)
    active = rng.random(n) < 0.9
    no_avatar = rng.random(n) < 0.05
    out = []
    for i, key in enumerate(keys):
        u = {"self": f"{BASE}/rest/api/3/user?accountId=acc-{key}",
             "accountId": f"acc-{key}",
             "accountType": "atlassian" if key % 9 else "app",
             "avatarUrls": {"48x48": f"{BASE}/a/{key}-{day}.png",
                            "24x24": f"{BASE}/a/{key}-s.png"},
             "displayName": f"User {key} d{day}",
             "active": bool(active[i]), "locale": "en_US"}
        if no_avatar[i]:
            del u["avatarUrls"]
        out.append(u)
    return out


def _worklogs(rng, keys, day, n_issues, n_users):
    n = len(keys)
    dd = rng.integers(1, 29, n)
    hh = rng.integers(8, 18, n)
    mm = rng.integers(0, 60, n)
    spent = rng.integers(1, 33, n) * 900
    billable = rng.random(n) < 0.7
    issue = rng.integers(0, n_issues, n)
    author = rng.integers(0, n_users, n)
    no_desc = rng.random(n) < 0.1
    out = []
    for i, key in enumerate(keys):
        d, h, m, u = dd[i], hh[i], mm[i], author[i]
        out.append({
            "self": f"{TEMPO}/4/worklogs/{key}", "tempoWorklogId": key,
            "issue": {"self": f"{BASE}/rest/api/3/issue/{issue[i]}",
                      "id": int(issue[i])},
            "timeSpentSeconds": int(spent[i]),
            "billableSeconds": int(spent[i]) if billable[i] else 0,
            "startDate": f"2024-02-{d:02d}",
            "startTime": f"{h:02d}:{m:02d}:00",
            "description": None if no_desc[i] else f"worklog {key} day {day}",
            "createdAt": f"2024-02-{d:02d}T{h:02d}:{m:02d}:00Z",
            "updatedAt": f"2024-03-{day:02d}T{h:02d}:{m:02d}:30Z",
            "author": {"accountId": f"acc-{u}",
                       "self": f"{BASE}/rest/api/3/user?accountId=acc-{u}"},
            "attributes": {"values": []}})
    return out


def _get(obj, *path):
    for p in path:
        if obj is None:
            return None
        obj = obj.get(p)
    return obj


def flat(entity, r):
    """The P1-P3 mapping, written out by hand: the row the engine's
    Flatten must produce for raw record ``r``. Nested paths through a
    null or missing parent are NULL; label arrays are '//'-joined."""
    if entity == "users":
        return {"url": r.get("self"), "account_id": r.get("accountId"),
                "account_type": r.get("accountType"),
                "avatarUrls_avatar_url": _get(r, "avatarUrls", "48x48"),
                "display_name": r.get("displayName"),
                "active": r.get("active")}
    if entity == "worklogs":
        return {"url": r["self"], "tempo_worklog_id": r["tempoWorklogId"],
                "issue_id": _get(r, "issue", "id"),
                "issue_url": _get(r, "issue", "self"),
                "time_spent_seconds": r["timeSpentSeconds"],
                "billable_seconds": r["billableSeconds"],
                "start_date": r["startDate"], "start_time": r["startTime"],
                "description": r["description"],
                "created_at": r["createdAt"], "updated_at": r["updatedAt"],
                "author_id": _get(r, "author", "accountId"),
                "author_url": _get(r, "author", "self")}
    f = r["fields"]
    row = {"issue_id": r["id"], "issue_url": r["self"],
           "issue_key": r["key"]}
    for leaf, raw in (("url", "self"), ("id", "id"),
                      ("description", "description"), ("name", "name")):
        row[f"fields_resolution_{leaf}"] = _get(f, "resolution", raw)
    row["fields_priority_name"] = _get(f, "priority", "name")
    lb = f.get("labels")
    row["fields_labels"] = None if lb is None else "//".join(lb)
    person = (("url", "self"), ("account_id", "accountId"),
              ("displayname", "displayName"), ("active", "active"),
              ("timezone", "timeZone"), ("accounttype", "accountType"))
    for p in ("assignee", "creator", "reporter"):
        for leaf, raw in person:
            row[f"fields_{p}_{leaf}"] = _get(f, p, raw)
    for leaf, raw in (("url", "self"), ("description", "description"),
                      ("name", "name")):
        row[f"fields_status_{leaf}"] = _get(f, "status", raw)
    for leaf, raw in (("url", "self"), ("key", "key"), ("name", "name")):
        row[f"fields_status_statusCategory_{leaf}"] = _get(
            f, "status", "statusCategory", raw)
    for leaf in ("progress", "total", "percent"):
        row[f"fields_progress_{leaf}"] = _get(f, "progress", leaf)
    row["fields_timespent"] = f.get("timespent")
    for leaf, raw in (("url", "self"), ("id", "id"), ("key", "key"),
                      ("name", "name"), ("projecttypekey", "projectTypeKey")):
        row[f"fields_project_{leaf}"] = _get(f, "project", raw)
    row["fields_summary"] = f.get("summary")
    return row


def jira(seed, sizes, days, update_share, new_share):
    """The day-by-day account model.

    ``sizes`` gives each entity's day-1 key count. Each later day re-sends
    ``update_share`` of the keys known so far (seeded choice) with new
    values and adds ``new_share`` × day-1 count new keys. Returns
    ``{entity: [records of day 1, records of day 2, ...]}``.
    """
    rng = np.random.default_rng([seed, 2])
    n_users = sizes["users"]
    out = {}
    for entity in ("issues", "worklogs", "users"):
        n0 = sizes[entity]
        known = 0
        per_day = []
        for day in range(1, days + 1):
            if day == 1:
                keys = list(range(n0))
            else:
                upd = rng.choice(known, int(known * update_share),
                                 replace=False)
                keys = sorted(int(k) for k in upd) + list(
                    range(known, known + int(n0 * new_share)))
            known = max(known, keys[-1] + 1)
            if entity == "issues":
                recs = _issues(rng, keys, day, n_users)
            elif entity == "users":
                recs = _users(rng, keys, day)
            else:
                recs = _worklogs(rng, keys, day, sizes["issues"], n_users)
            per_day.append(recs)
        out[entity] = per_day
    return out


def final_rows(entity, per_day, upto=None):
    """The table after days 1..upto: the last day that sent a key wins."""
    key = KEYS[entity]
    state = {}
    for recs in per_day[:upto]:
        for r in recs:
            row = flat(entity, r)
            state[row[key]] = row
    return list(state.values())


def pages(entity, recs, page_size, base_url=""):
    """Split one day's records into the reference's page envelopes.

    issues: offset envelope ``{startAt, maxResults, total, issues}``;
    worklogs: cursor envelope ``{results, metadata: {next}}`` whose
    ``next`` is ``base_url`` + the next page's name; users: one bare array.
    Returns ``[(name, json_text)]``.
    """
    if entity == "users":
        return [("0", json.dumps(recs))]
    n = len(recs)
    out = []
    for i, start in enumerate(range(0, n, page_size)):
        chunk = recs[start:start + page_size]
        if entity == "issues":
            body = {"expand": "schema,names", "startAt": start,
                    "maxResults": page_size, "total": n, "issues": chunk}
        else:
            nxt = f"{base_url}{i + 1}" if start + page_size < n else None
            body = {"self": f"{base_url}{i}", "results": chunk,
                    "metadata": {"count": len(chunk), "offset": start,
                                 "limit": page_size,
                                 **({"next": nxt} if nxt else {})}}
        out.append((str(start if entity == "issues" else i),
                    json.dumps(body)))
    return out

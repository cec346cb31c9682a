#!/usr/bin/env python3
"""Seeded input generators for the benchmark's three workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files (gzip headers carry no timestamp, dict order is fixed,
no wall clock is read). Run `python3 perfbench/gen.py --selftest` to check
that, plus the stated duplicate share, day span and payload-size tail.

- backfill: `YYYY-MM-DD-H.json.gz` NDJSON hour files (the gh-load input),
  GitHub-event-shaped lines, a heavy payload tail, and a seeded share of
  byte-identical lines repeated in the adjacent hour file.
- ingest: polls of ~1,100 raw events (11 pages x 100), newest-first inside
  a poll, event time at firehose density, a seeded share of each poll
  repeating events of the previous poll; optionally one large poll that
  fills the 10-minute dedup watermark.
- query: TPC-H-ish and `events`/`documents` tables shaped like the
  repository's test fixtures (FIXTURES.md) at sf0.01 row counts. Their
  content is fixed; the seed only permutes row order (seed 0 keeps
  generator order), so every query key has one expected result.
"""
import argparse
import datetime as dt
import gzip
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile

EPOCH = dt.datetime(1970, 1, 1)

# ---- GitHub-event-shaped lines -------------------------------------------

EVENT_TYPES = [("PushEvent", 50), ("CreateEvent", 12), ("WatchEvent", 12),
               ("PullRequestEvent", 8), ("IssueCommentEvent", 8),
               ("IssuesEvent", 5), ("ForkEvent", 5)]
WORDS = ("fix add update remove refactor test docs build bump merge branch "
         "release parser cache index query stream sink shard batch retry "
         "timeout error config lint typo deps version api client server").split()


def _pick_type(rng):
    r = rng.randrange(100)
    for name, w in EVENT_TYPES:
        if r < w:
            return name
        r -= w
    return EVENT_TYPES[-1][0]


def _sha(rng):
    return "%040x" % rng.getrandbits(160)


def _sentence(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _commit(rng, login, repo, long_msg):
    sha = _sha(rng)
    msg = _sentence(rng, 40, 160) if long_msg else _sentence(rng, 3, 12)
    return {"sha": sha,
            "author": {"email": f"{login}@users.noreply.github.com", "name": login},
            "message": msg, "distinct": True,
            "url": f"https://api.github.com/repos/{repo}/commits/{sha}"}


WATCH_LINE = ('{"id":%d,"type":"WatchEvent","actor":{"id":%d,"login":"%s",'
              '"display_login":"%s","gravatar_id":"",'
              '"url":"https://api.github.com/users/%s",'
              '"avatar_url":"https://avatars.githubusercontent.com/u/%d?"},'
              '"repo":{"id":%d,"name":"%s","url":"https://api.github.com/repos/%s"},'
              '"payload":{"action":"started"},"public":true,"created_at":"%s"}')


def event_line(rng, eid, created_at, big_share, etype=None):
    """One GitHub-event NDJSON line (~1 KB; PushEvents in the `big_share`
    tail carry tens of KB of commits), of type `etype` if given."""
    etype = etype or _pick_type(rng)
    actor_id = rng.randrange(1, 5_000_000)
    login = f"user{actor_id}"
    repo_id = rng.randrange(1, 50_000_000)
    repo = f"org{repo_id % 9973}/repo{repo_id}"
    if etype == "WatchEvent":
        # the same line json.dumps gives, without its cost (the ingest
        # preload is 90,000 of these)
        return WATCH_LINE % (eid, actor_id, login, login, login, actor_id,
                             repo_id, repo, repo, created_at)
    if etype == "PushEvent":
        big = rng.random() < big_share
        n = rng.randint(20, 60) if big else rng.randint(1, 2)
        commits = [_commit(rng, login, repo, big) for _ in range(n)]
        payload = {"repository_id": repo_id, "push_id": rng.randrange(1 << 40),
                   "size": n, "distinct_size": n, "ref": "refs/heads/main",
                   "head": commits[-1]["sha"], "before": _sha(rng),
                   "commits": commits}
    elif etype in ("PullRequestEvent", "IssuesEvent", "IssueCommentEvent"):
        num = rng.randrange(1, 20000)
        payload = {"action": rng.choice(["opened", "closed", "created"]),
                   "number": num,
                   "title": _sentence(rng, 4, 10),
                   "body": _sentence(rng, 20, 60),
                   "url": f"https://api.github.com/repos/{repo}/issues/{num}"}
    elif etype == "CreateEvent":
        payload = {"ref": f"feature-{rng.randrange(10000)}", "ref_type": "branch",
                   "master_branch": "main", "description": _sentence(rng, 4, 12),
                   "pusher_type": "user"}
    elif etype == "ForkEvent":
        fid = rng.randrange(1, 50_000_000)
        payload = {"forkee": {"id": fid, "name": f"repo{fid}",
                              "full_name": f"{login}/repo{fid}", "private": False,
                              "description": _sentence(rng, 4, 12)}}
    else:
        payload = {"action": "started"}
    ev = {"id": eid, "type": etype,
          "actor": {"id": actor_id, "login": login, "display_login": login,
                    "gravatar_id": "",
                    "url": f"https://api.github.com/users/{login}",
                    "avatar_url": f"https://avatars.githubusercontent.com/u/{actor_id}?"},
          "repo": {"id": repo_id, "name": repo,
                   "url": f"https://api.github.com/repos/{repo}"},
          "payload": payload, "public": True, "created_at": created_at}
    return json.dumps(ev, separators=(",", ":"))


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def hash64(s):
    """Signed 64-bit prefix of md5(s); summed with wrap-around it is the
    order-independent checksum the JVM side recomputes."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big", signed=True)


def wrap64(x):
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= 1 << 63 else x


def _write_gz(path, lines):
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as raw:
        # mtime=0 and no file name in the header: byte-identical per seed
        with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0,
                           compresslevel=6) as gz:
            gz.write(data)
    return len(data)


# ---- backfill ------------------------------------------------------------

BACKFILL_START = dt.datetime(2024, 1, 15)


def gen_backfill(seed, out, days=3, lines_per_hour=150, dup_share=0.05,
                 big_share=0.03):
    """Hour files for `days` days; returns the manifest dict."""
    rng = random.Random(f"backfill-{seed}")
    os.makedirs(out, exist_ok=True)
    eid = 30_000_000_000 + rng.randrange(1_000_000)
    checksum, distinct, n_lines, json_bytes, gz_bytes, n_dup = 0, 0, 0, 0, 0, 0
    carry = []
    hours = days * 24
    for h in range(hours):
        hour = BACKFILL_START + dt.timedelta(hours=h)
        fresh = []
        for i in range(lines_per_hour):
            eid += rng.randint(1, 40)
            t = hour + dt.timedelta(seconds=i * 3600 // lines_per_hour)
            line = event_line(rng, eid, iso(t), big_share)
            fresh.append(line)
            distinct += 1
            epoch = int((t - EPOCH).total_seconds())
            checksum = wrap64(checksum + hash64(f"{eid}|{epoch}"))
        lines = carry + fresh
        n_dup += len(carry)
        name = f"{hour.year:04d}-{hour.month:02d}-{hour.day:02d}-{hour.hour}.json.gz"
        json_bytes += _write_gz(os.path.join(out, name), lines)
        gz_bytes += os.path.getsize(os.path.join(out, name))
        n_lines += len(lines)
        # byte-identical repeats of this hour's lines in the next hour file
        k = round(lines_per_hour * dup_share) if h + 1 < hours else 0
        carry = rng.sample(fresh, k)
    end = BACKFILL_START + dt.timedelta(hours=hours)
    return {"workload": "backfill", "seed": seed, "lines": n_lines,
            "distinct": distinct, "duplicates": n_dup, "json_bytes": json_bytes,
            "gz_bytes": gz_bytes, "files": hours, "days": days,
            "from": f"{BACKFILL_START:%Y-%m-%d}-0",
            "to": f"{end:%Y-%m-%d}-{end.hour}", "checksum": checksum}


# ---- ingest --------------------------------------------------------------

INGEST_START = dt.datetime(2024, 3, 1, 12)


def gen_ingest(seed, out, polls=60, new_per_poll=1000, dup_share=0.09,
               rate=150.0, big_share=0.01, preload=0):
    """`polls` polls into out/polls.ndjson (one event per line, poll after
    poll) and out/polls.idx (event count of each poll). With `preload`, the
    second poll carries that many new WatchEvents instead of `new_per_poll`
    events: at `rate`, 90,000 span the 10-minute dedup watermark, so the
    polls after it meet a full dedup state."""
    rng = random.Random(f"ingest-{seed}")
    os.makedirs(out, exist_ok=True)
    eid = 40_000_000_000 + rng.randrange(1_000_000)
    checksum, distinct, offered, json_bytes = 0, 0, 0, 0
    n = 0
    prev = []
    sizes = []
    with open(os.path.join(out, "polls.ndjson"), "w") as f:
        for i in range(polls):
            fresh = []
            big = i == 1 and preload
            for _ in range(preload if big else new_per_poll):
                eid += rng.randint(1, 3)
                t = INGEST_START + dt.timedelta(seconds=n / rate)
                n += 1
                # the preload fills dedup state, which keeps ids and times
                # only, so it is made of the smallest and cheapest events
                line = event_line(rng, eid, iso(t), big_share,
                                  "WatchEvent" if big else None)
                fresh.append(line)
                distinct += 1
                checksum = wrap64(checksum + hash64(f"{eid}|{line}"))
            # the API pages newest-first; repeats are older than every
            # fresh event of this poll, so they trail it, newest first
            picked = sorted(rng.sample(range(len(prev)), round(new_per_poll * dup_share))
                            if prev else [])
            poll = fresh[::-1] + [prev[j] for j in picked]
            for line in poll:
                f.write(line + "\n")
                json_bytes += len(line) + 1
            offered += len(poll)
            sizes.append((len(poll), distinct, checksum))
            prev = fresh[::-1]
    with open(os.path.join(out, "polls.idx"), "w") as f:
        f.write("".join(f"{n} {d} {c}\n" for n, d, c in sizes))
    return {"workload": "ingest", "seed": seed, "polls": polls, "preload": preload,
            "offered": offered,
            "distinct": distinct, "duplicates": offered - distinct,
            "json_bytes": json_bytes, "checksum": checksum}


# ---- query ---------------------------------------------------------------

QUERY_GEN_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_KINDS = ["click", "view", "error", "signup", "purchase"]
DOC_WORDS = ("the a fast slow big small key value table row column part order "
             "customer line query scan filter join agg group sort merge hash "
             "window stream batch spark data vector").split()
LANGS = ["en", "es", "de", "fr", "zh"]


def _query_tables():
    """Column dicts of the five tables the query mix reads, sf0.01 counts."""
    rng = random.Random(QUERY_GEN_SEED)
    n_cust, n_ord, n_part, n_supp, n_ev, n_doc = 1500, 15000, 2000, 100, 10000, 500
    customer = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [rng.randrange(-99999, 999999) / 100 for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]}
    d0 = dt.datetime(1995, 1, 1)
    orders = {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [rng.randrange(100000, 50000000) / 100 for _ in range(n_ord)],
        "o_orderdate": [d0 + dt.timedelta(days=rng.randrange(2405)) for _ in range(n_ord)],
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_ord)]}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(n_ord):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.randrange(90000, 210000) / 100, 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(d0 + dt.timedelta(days=rng.randrange(1, 2500)))
    e0 = dt.datetime(2024, 1, 1)
    step = 30 * 86400 / n_ev
    events = {
        "event_id": list(range(n_ev)),
        "ts": [e0 + dt.timedelta(microseconds=int((i + rng.random()) * step * 1e6))
               for i in range(n_ev)],
        "user_id": [rng.randrange(150) for _ in range(n_ev)],
        "event_type": [rng.choice(EVENT_KINDS) for _ in range(n_ev)],
        "value": [round(rng.expovariate(1 / 50), 2) or 0.01 for _ in range(n_ev)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]}
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.06:
            texts.append(rng.choice(texts))                      # exact duplicate
        elif texts and r < 0.16:
            words = rng.choice(texts).split()                    # near duplicate
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS)
                                  for _ in range(rng.randint(8, 80))))
    documents = {
        "doc_id": list(range(n_doc)), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_doc)],
        "n_chars": [len(t) for t in texts]}
    return {"customer": customer, "orders": orders, "lineitem": li,
            "events": events, "documents": documents}


def gen_query(seed, out):
    """Write the query tables as single-file parquet in a seeded row order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    i32 = {"c_nationkey", "l_linenumber"}
    ts = {"o_orderdate", "l_shipdate", "ts"}
    rows = {}
    for name, cols in _query_tables().items():
        n = len(next(iter(cols.values())))
        order = list(range(n))
        if seed != 0:
            random.Random(f"query-order-{seed}-{name}").shuffle(order)
        arrays, fields = [], []
        for c, vals in cols.items():
            vals = [vals[i] for i in order]
            if c in ts:
                typ = pa.timestamp("us")
            elif c in i32:
                typ = pa.int32()
            elif isinstance(vals[0], float):
                typ = pa.float64()
            elif isinstance(vals[0], int):
                typ = pa.int64()
            else:
                typ = pa.string()
            arrays.append(pa.array(vals, type=typ))
            fields.append(c)
        pq.write_table(pa.Table.from_arrays(arrays, names=fields),
                       os.path.join(out, f"{name}.parquet"))
        rows[name] = n
    return {"workload": "query", "seed": seed, "rows": rows}


GENERATORS = {"backfill": gen_backfill, "ingest": gen_ingest, "query": gen_query}


# ---- self-test -----------------------------------------------------------

def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _lines(d):
    for f in sorted(os.listdir(d)):
        if f.endswith(".json.gz"):
            with gzip.open(os.path.join(d, f), "rt") as fh:
                yield f, [x for x in fh.read().split("\n") if x]


def selftest(tmp):
    ok = True

    def check(cond, what):
        nonlocal ok
        print(("ok   " if cond else "FAIL ") + what)
        ok = ok and cond

    for w, gen in GENERATORS.items():
        a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
        ma, mb, mc = gen(7, a), gen(7, b), gen(8, c)
        check(_digest(a) == _digest(b) and ma == mb, f"{w}: same seed, byte-identical inputs")
        check(_digest(a) != _digest(c), f"{w}: another seed, other inputs")
    # backfill: day span, duplicate share, payload tail
    d = os.path.join(tmp, "backfill-a")
    m = gen_backfill(7, d)
    files = dict(_lines(d))
    days = {f[:10] for f in files}
    check(len(days) >= 3, f"backfill: spans {len(days)} days (>= 3)")
    check(m["duplicates"] / m["lines"] > 0.04 and m["duplicates"] / m["lines"] < 0.06,
          f"backfill: duplicate share {m['duplicates'] / m['lines']:.3f} (~0.05)")
    names = sorted(files, key=lambda f: dt.datetime.strptime(f[:-8], "%Y-%m-%d-%H"))
    repeated = sum(len(set(files[x]) & set(files[y])) for x, y in zip(names, names[1:]))
    check(repeated == m["duplicates"],
          f"backfill: {repeated} byte-identical lines repeat in the adjacent hour")
    sizes = sorted(len(x) for ls in files.values() for x in ls)
    med = sizes[len(sizes) // 2]
    tail = sum(s > 10_000 for s in sizes) / len(sizes)
    check(600 <= med <= 1600, f"backfill: median line {med} B (~1 KB)")
    check(0.003 <= tail <= 0.05 and sizes[-1] > 20_000,
          f"backfill: {tail:.2%} of lines > 10 KB, largest {sizes[-1]} B")
    # ingest: per-poll duplicate share, newest-first order, the preload
    d = os.path.join(tmp, "ingest-a")
    m = gen_ingest(7, d, polls=5, preload=90_000)
    with open(os.path.join(d, "polls.idx")) as fh:
        idx = [[int(v) for v in x.split()[:2]] for x in fh]
    counts = [c for c, _ in idx]
    with open(os.path.join(d, "polls.ndjson")) as fh:
        evs = [json.loads(x) for x in fh]
    pre = evs[counts[0]:counts[0] + counts[1]]
    span = (dt.datetime.fromisoformat(pre[0]["created_at"][:-1]) -
            dt.datetime.fromisoformat(pre[-1]["created_at"][:-1])).total_seconds()
    check(counts[1] >= 90_000 and span >= 600,
          f"ingest: preload poll of {counts[1]} events spans {span:.0f} s (>= 600)")
    counts = counts[:1] + counts[2:]
    check(all(1000 <= x <= 1200 for x in counts), f"ingest: other poll sizes {counts}")
    # repeats in the polls after the preload: events offered minus new ones
    dups = sum(c - (d1 - d0) for (_, d0), (c, d1) in zip(idx[1:], idx[2:]))
    share = dups / sum(c for c, _ in idx[2:])
    check(0.06 < share < 0.1, f"ingest: duplicate share {share:.3f}")
    first = evs[:counts[0]]
    check(all(x["created_at"] >= y["created_at"] for x, y in zip(first, first[1:])),
          "ingest: newest-first within a poll")
    stamps = [dt.datetime.fromisoformat(x["created_at"][:-1]) for x in evs]
    rate = m["distinct"] / ((max(stamps) - min(stamps)).total_seconds() + 1)
    check(120 < rate < 180, f"ingest: {rate:.0f} events per event-time second")
    # query: seed 0 keeps generator order, other seeds permute the same rows
    import pyarrow.parquet as pq
    gen_query(0, os.path.join(tmp, "q0"))
    gen_query(3, os.path.join(tmp, "q3"))
    for t in ("events", "lineitem", "documents"):
        t0 = pq.read_table(os.path.join(tmp, "q0", f"{t}.parquet")).to_pylist()
        t3 = pq.read_table(os.path.join(tmp, "q3", f"{t}.parquet")).to_pylist()
        key = lambda r: json.dumps(r, sort_keys=True, default=str)
        check(sorted(map(key, t0)) == sorted(map(key, t3)) and t0 != t3,
              f"query: {t} rows identical as a multiset, order seeded")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.selftest:
        tmp = tempfile.mkdtemp(prefix=".gen-selftest-", dir=os.path.dirname(
            os.path.abspath(__file__)))
        try:
            sys.exit(0 if selftest(tmp) else 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if not (a.workload and a.out):
        ap.error("--workload and --out are required without --selftest")
    print(json.dumps(GENERATORS[a.workload](a.seed, a.out)))


if __name__ == "__main__":
    main()

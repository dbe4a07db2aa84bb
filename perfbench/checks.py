"""Correctness checks, computed apart from the program.

Each check function takes the generator's manifest, the JVM's result.json
and the run directory, and returns (failed operations, failed checks, extra
per-layer values). A failed operation is one resource check, API call or
declared query of a measured round whose outcome differs from what the
generator or the reference computation expects. Every failed check is named,
whether it is such an operation, an operation of the set-up round or a
whole-run property (batch selection, check-log growth, last-check
pointers), and makes the run exit non-zero. The store, the tables and the
documents are read with DuckDB directly from their Parquet files.
"""

import collections
import decimal
import json
import math
import os
import re
import sys

import duckdb

PY_TO_DUCK = {"int": "BIGINT", "float": "DOUBLE", "bool": "BOOLEAN", "date": "DATE",
              "datetime": "TIMESTAMP", "string": "VARCHAR"}
BITMAP_BITS = 4096  # the profiler's linear-counting bitmap


def note(msg):
    sys.stderr.write("perfbench: %s\n" % msg)


def pq(path):
    return "read_parquet('%s/**/*.parquet', hive_partitioning = true)" % path


def distinct_ok(est, n):
    """Linear counting over m bits (Whang et al.): the estimate's standard
    error is sqrt(m (e^t - t - 1)) for load t = n / m. Exact while the
    profiler never evicted a value; otherwise within three standard errors,
    or pinned at the saturation floor when every bit is set."""
    if est == n:
        return True
    m = BITMAP_BITS
    t = n / m
    se = math.sqrt(m * (math.exp(min(t, 50)) - t - 1))
    floor = round(m * math.log(2.0 * m))
    return abs(est - n) <= 3 * se + 1 or est == min(floor, n)


# ------------------------------------------------------------ ingested tables

def check_table(con, r, tables, index):
    """Why the typed table and tables_index report of re-ingested resource
    `r` differ from what the generator wrote (empty when they agree)."""
    tdir = os.path.join(tables, r["table"])
    if not os.path.isdir(tdir):
        return ["table missing"]
    rel = pq(tdir)
    why = []
    n = con.execute("SELECT count(*) FROM %s" % rel).fetchone()[0]
    if n != r["rows"]:
        why.append("rows %d, generated %d" % (n, r["rows"]))
    types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM %s)"
                             % rel).fetchall())
    want = {c["name"]: PY_TO_DUCK[c["python_type"]] for c in r["columns"]}
    if types != want:
        why.append("types %s, generated %s" % (types, want))
    prof = index.get(r["table"], {}).get("profile")
    if prof is None:
        return why + ["no tables_index report"]
    for c in r["columns"]:
        p = prof.get(c["name"], {})
        ok = p.get("nb_missing_values") == c["missing"]
        ok = ok and distinct_ok(p.get("nb_distinct", -1), c["distinct"])
        for k in ("min", "max"):
            if k in c:
                ok = ok and p.get(k) is not None and abs(p[k] - c[k]) <= 1e-9 * max(1, abs(c[k]))
        if not ok:
            why.append("profile of %s: %s, generated %s" % (
                c["name"], {k: p.get(k) for k in ("nb_missing_values", "nb_distinct", "min", "max")},
                {k: c.get(k) for k in ("missing", "distinct", "min", "max")}))
    return why


# ---------------------------------------------------------- service_steady

def norm(v):
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def api_reference(con, store, route, target, day, now):
    cat = pq(os.path.join(store, "catalog"))
    chk = pq(os.path.join(store, "checks"))
    if route == "checksLatest":
        q = ("SELECT c.id, c.status, c.checksum FROM %s c JOIN %s k ON k.last_check = c.id "
             "WHERE k.resource_id = ?" % (chk, cat))
        return sorted(con.execute(q, [target]).fetchall())
    if route == "checksAll":
        q = "SELECT id FROM %s WHERE resource_id = ? ORDER BY created_at DESC" % chk
        return [r[0] for r in con.execute(q, [target]).fetchall()]
    if route == "checksAggregate":
        q = ("SELECT status, count(*) AS n FROM %s WHERE CAST(created_at AS DATE) = ? "
             "GROUP BY 1 ORDER BY n DESC, status ASC NULLS FIRST LIMIT 20" % chk)
        return [tuple(r) for r in con.execute(q, [day]).fetchall()]
    if route == "stats":
        q = ("WITH l AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY resource_id "
             "ORDER BY created_at DESC, id DESC) AS rn FROM %s) WHERE rn = 1), "
             "b AS (SELECT CASE WHEN status BETWEEN 200 AND 399 THEN 'ok' WHEN timeout "
             "THEN 'timeout' ELSE 'error' END AS bucket, status, count(*) AS n FROM l GROUP BY 1, 2) "
             "SELECT bucket, status, n, round(n * 100.0 / (SELECT sum(n) FROM b), 2) FROM b" % chk)
        return sorted(tuple(norm(x) for x in r) for r in con.execute(q).fetchall())
    if route == "statusCrawler":
        q = ("SELECT count(*), count(*) FILTER (WHERE last_check IS NULL), "
             "count(*) FILTER (WHERE next_check_at IS NOT NULL AND next_check_at <= ?::TIMESTAMPTZ) "
             "FROM %s WHERE NOT deleted" % cat)
        return list(con.execute(q, [now]).fetchone())
    if route == "statusWorker":
        q = ("SELECT coalesce(status, 'NULL') AS s, count(*) FROM %s WHERE NOT deleted "
             "GROUP BY 1 ORDER BY 1" % cat)
        return [tuple(r) for r in con.execute(q).fetchall()]
    if route == "resource":
        q = ("SELECT resource_id, dataset_id, url, last_check, priority, status, deleted "
             "FROM %s WHERE resource_id = ?" % cat)
        return [tuple(r) for r in con.execute(q, [target]).fetchall()]
    raise KeyError(route)


def api_observed(route, rows):
    rows = [json.loads(r) for r in rows]
    if route == "checksLatest":
        return sorted((r["id"], r.get("status"), r.get("checksum")) for r in rows)
    if route == "checksAll":
        return [r["id"] for r in rows]
    if route == "checksAggregate":
        return [(r.get("value"), r["count"]) for r in rows]
    if route == "stats":
        return sorted((r["bucket"], r.get("status"), r["count"], norm(float(r["percentage"])))
                      for r in rows)
    if route == "statusCrawler":
        r = rows[0]
        return [r["total"], r["never_checked"], r["due"]]
    if route == "statusWorker":
        return [(r["status"], r["count"]) for r in rows]
    if route == "resource":
        return [(r["resource_id"], r.get("dataset_id"), r.get("url"), r.get("last_check"),
                 r.get("priority"), r.get("status"), r.get("deleted")) for r in rows]
    raise KeyError(route)


# routes whose answer later rounds leave alone (checked every round); the
# others are checked on the last round only, against the final store
STABLE_ROUTES = {"checksLatest", "checksAll", "checksAggregate", "resource"}


def expect_steady(r, o):
    """Why outcome `o` of resource `r` is not what the change plan implies
    (None when it is)."""
    change = r["change"]
    if o is None:
        return "not checked"
    if o["backoff"]:
        return "backed off"
    if change == "gone":
        if o["status"] != 404 or o["changed"] or o["downloaded"]:
            return "404 expected, got status %s" % o["status"]
        return None
    if o["status"] != 200:
        return "status %s" % o["status"]
    if o["changed"] != (change is not None):
        return "changed %s, generator says %s" % (o["changed"], change)
    want_download = r["cls"] == "C" or change is not None
    if o["downloaded"] != want_download:
        return "downloaded %s, headers allow skipping %s" % (o["downloaded"], not want_download)
    if change == "broken":
        err = o["parsing_error"] or ""
        if o["parsing_table"] or not re.match(r"((csv|xls|xlsx|ods)-inspection|analysis):", err):
            return "parsing error expected, got %r" % err
    elif change is not None and (o["parsing_table"] != r["table"] or o["parsing_error"]):
        return "re-ingest failed: %r" % o["parsing_error"]
    return None


def check_steady(manifest, result, rundir):
    res = {r["resource_id"]: r for r in manifest["resources"]}
    groups = manifest["groups"]
    bad_ops, failures = 0, []
    all_rounds = [result["warm_round"]] + result["rounds_data"]
    store = result["store"]
    tables = os.path.join(os.path.dirname(store), "tables")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    index = {t: json.loads(js) for t, js in con.execute(
        "SELECT parsing_table, csv_detective FROM %s" % pq(os.path.join(store, "tables_index"))
    ).fetchall()}

    def fail(i, name, why, counted=True):
        """Names a wrong outcome of round i (0 is the set-up round, whose
        operations are not counted). `counted` is false for an operation the
        JVM already counted as failed because it threw."""
        nonlocal bad_ops
        note("service_steady round %d %s: %s" % (i, name, why))
        if i == 0:
            failures.append("service_steady.setup_round.%s" % name)
            return
        failures.append("service_steady.%s" % name)
        bad_ops += counted

    checked_total = 0
    for i, rd in enumerate(all_rounds):
        g = rd["group"]
        got = {o["resource_id"]: o for o in rd["outcomes"]}
        checked_total += sum(1 for o in rd["outcomes"] if not o["backoff"])
        if set(got) != set(groups[g]):
            failures.append("service_steady.batch_selection.group%d" % g)
        for rid in groups[g]:
            r = res[rid]
            why = expect_steady(r, got.get(rid))
            if why is None and r["change"] in ("A", "B", "C"):
                why = "; ".join(check_table(con, r, tables, index)) or None
            if why:
                fail(i, "resource.%s" % rid, "%s, class %s, change %s: %s"
                     % (r["kind"], r["cls"], r["change"], why), counted=bool(rd["outcomes"]))

    last = len(all_rounds) - 1
    for i, rd in enumerate(all_rounds):
        for obs in rd["reads"]:
            route = obs["route"]
            if not obs["ok"]:
                fail(i, "api.%s" % route, obs["error"], counted=False)
                continue
            if route not in STABLE_ROUTES and i != last:
                continue
            want = api_reference(con, store, route, rd["target"], rd["day"], rd["now"])
            got = api_observed(route, obs["rows"])
            if [list(x) if isinstance(x, tuple) else x for x in want] != \
                    [list(x) if isinstance(x, tuple) else x for x in got]:
                fail(i, "api.%s" % route, "program %s, DuckDB %s" % (got, want))
        for obs in rd["writes"]:
            if not obs["ok"]:
                fail(i, "api.%s" % obs["route"], obs.get("error", "returned false"),
                     counted="error" not in obs)

    chk = pq(os.path.join(store, "checks"))
    n = con.execute("SELECT count(*) FROM %s" % chk).fetchone()[0]
    if n != manifest["history_rows"] + checked_total:
        failures.append("service_steady.checks_growth")
        note("checks %d, expected %d + %d" % (n, manifest["history_rows"], checked_total))
    wrong = con.execute(
        "SELECT count(*) FROM %s k JOIN (SELECT resource_id, max(id) AS m FROM %s GROUP BY 1) c "
        "USING (resource_id) WHERE k.last_check IS DISTINCT FROM c.m"
        % (pq(os.path.join(store, "catalog")), chk)).fetchone()[0]
    if wrong:
        failures.append("service_steady.last_check_is_highest_id")
    return bad_ops, failures, {}


# ------------------------------------------------------- llm_dedup_linkage

def tokens(text):
    return [t for t in re.split(r"\s+", text.strip().lower()) if t]


def shingles3(text):
    t = tokens(text)
    return {"\x1f".join(t[i:i + 3]) for i in range(len(t) - 2)}


def grams(text, n):
    s = re.sub(r"\s+", " ", text.strip().lower())
    return {s[i:i + n] for i in range(max(len(s) - n + 1, 1))} if s else set()


def jaccard_pairs(sets, thr):
    """Every pair (a < b) whose exact Jaccard is at least thr, with its
    Jaccard. Sets are visited by size, so the size bound |A| / |B| >= thr,
    which every such pair meets, ends each scan early."""
    ids = sorted(sets, key=lambda d: (len(sets[d]), d))
    out = {}
    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1:]:
            sb = sets[b]
            if len(sa) < thr * len(sb) - 1e-9:
                break
            c = len(sa & sb)
            j = c / (len(sa) + len(sb) - c)
            if j >= thr:
                out[(min(a, b), max(a, b))] = j
    return out


M64 = (1 << 64) - 1


def fnv_fmix(s):
    """FNV-1a over the characters, then the murmur3 64-bit finalizer: the
    hash the declared SimHash and winnowing queries specify."""
    h = 14695981039346656037
    for ch in s:
        h = ((h ^ ord(ch)) * 1099511628211) & M64
    h ^= h >> 33
    h = (h * 0xff51afd7ed558ccd) & M64
    h ^= h >> 33
    h = (h * 0xc4ceb9fe1a85ec53) & M64
    return h ^ (h >> 33)


def simhash(text):
    """64-bit token SimHash: a signed bit vote over the token hashes."""
    votes = [0] * 64
    for tok in tokens(text):
        h = fnv_fmix(tok)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def winnowing_pairs(docs):
    """MOSS winnowing as x55 declares it: signed hashes of the char 5-grams,
    the minimum of every window of 4, fingerprints held by at most 8
    documents, and the pairs sharing at least two of them."""
    fps = {}
    for d, text in docs.items():
        s = re.sub(r"\s+", " ", text.strip().lower())
        hs = [h - (1 << 64) if h >> 63 else h
              for h in (fnv_fmix(s[i:i + 5]) for i in range(len(s) - 4))]
        if hs:
            fps[d] = {min(hs[p:p + 4]) for p in range(max(len(hs) - 3, 1))}
    df = collections.Counter(fp for f in fps.values() for fp in f)
    holders = collections.defaultdict(list)
    for d in sorted(fps):
        for fp in fps[d]:
            if df[fp] <= 8:
                holders[fp].append(d)
    shared = collections.Counter((a, b) for ds in holders.values()
                                 for i, a in enumerate(ds) for b in ds[i + 1:])
    return {k: n for k, n in shared.items() if n >= 2}


def recall_floor(ps):
    """Lower bound on how many of the exact pairs a banded MinHash finds:
    the expected count minus three standard deviations."""
    mean = sum(ps)
    sd = math.sqrt(sum(p * (1 - p) for p in ps))
    return mean - 3 * sd


DEDUP_QUERIES = ["x07_minhash_neardup", "x08_simhash_neardup", "x09_ngram_jaccard",
                 "x55_winnowing_pairs", "x86_prefix_jaccard", "x154_qgram_join",
                 "x236_qgram_preflight", "x247_similarity_join_auto",
                 "x248_similarity_join_routed", "x251_incremental_linkage",
                 "x252_incremental_routed"]
# the linkage queries: each returns the Levenshtein <= 1 pairs of x154's
# reference, through its own route
LINKAGE = ["x154_qgram_join", "x247_similarity_join_auto", "x248_similarity_join_routed",
           "x251_incremental_linkage", "x252_incremental_routed"]


def check_dedup(manifest, result, rundir):
    """The queries' outputs against exact all-pairs computations: token
    3-shingle and char 5-gram Jaccard, SimHash and winnowing in Python,
    and the DuckDB SQL the program declares as reference
    (`SparkEntry.oracleSql`) for the Levenshtein joins and x236."""
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
                % manifest["dir"])
    docs = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    cap = result["captured"]
    failures = ["llm_dedup_linkage.%s.not_captured" % q for q in DEDUP_QUERIES if q not in cap]
    bad = set()

    def fail(q, check, why):
        bad.add(q)
        failures.append("llm_dedup_linkage.%s.%s" % (q, check))
        note("llm_dedup_linkage %s %s: %s" % (q, check, why))

    def rows(q, *cols):
        """{key columns: value column} of a query's output."""
        out = cap[q]
        idx = [out["columns"].index(c) for c in cols]
        d = {tuple(r[i] for i in idx[:-1]): r[idx[-1]] for r in out["rows"]}
        if len(d) != len(out["rows"]):
            fail(q, "duplicate_rows", "%d rows, %d distinct" % (len(out["rows"]), len(d)))
        return d

    def oracle(q):
        cur = con.execute(cap[q]["oracle_sql"])
        return [d[0] for d in cur.description], cur.fetchall()

    def same(q, got, want):
        """Exactly the reference pairs, each with its reference value."""
        off = [k for k in set(got) | set(want)
               if k not in got or k not in want or abs(got[k] - want[k]) > 1e-4]
        if off:
            fail(q, "exact_pairs", "%d pairs, reference %d, %d differ, e.g. %s: %s vs %s" % (
                len(got), len(want), len(off), min(off), got.get(min(off)), want.get(min(off))))

    def banded(q, got, want, bands, rows_per_band):
        """Only reference pairs, and at least the banded recall bound of them."""
        extra = [k for k in got if k not in want or abs(got[k] - want[k]) > 1e-4]
        if extra:
            fail(q, "pairs_meet_threshold", "%d pairs below the threshold, e.g. %s"
                 % (len(extra), min(extra)))
        floor = recall_floor([1 - (1 - j ** rows_per_band) ** bands for j in want.values()])
        hit = sum(1 for k in want if k in got)
        if hit < floor:
            fail(q, "recall_bound", "found %d of %d pairs, bound %.1f" % (hit, len(want), floor))

    sh = jaccard_pairs({d: shingles3(t) for d, t in docs.items()}, 0.5)
    if "x86_prefix_jaccard" in cap:
        same("x86_prefix_jaccard", rows("x86_prefix_jaccard", "id_a", "id_b", "jaccard"), sh)
    if "x07_minhash_neardup" in cap:
        banded("x07_minhash_neardup", rows("x07_minhash_neardup", "id_a", "id_b", "jaccard"),
               sh, 16, 4)
    g5 = {d: grams(t, 5) for d, t in docs.items()}
    if "x09_ngram_jaccard" in cap:
        banded("x09_ngram_jaccard", rows("x09_ngram_jaccard", "id_a", "id_b", "jaccard"),
               jaccard_pairs(g5, 0.8), 32, 8)
    if "x08_simhash_neardup" in cap:
        fp = {d: simhash(t) for d, t in docs.items()}
        ids = sorted(docs)
        want = {(a, b): h for i, a in enumerate(ids) for b in ids[i + 1:]
                for h in [bin(fp[a] ^ fp[b]).count("1")] if h <= 4}
        same("x08_simhash_neardup", rows("x08_simhash_neardup", "id_a", "id_b", "hamming"), want)
    if "x55_winnowing_pairs" in cap:
        same("x55_winnowing_pairs", rows("x55_winnowing_pairs", "id_a", "id_b", "n_shared"),
             winnowing_pairs(docs))
    if "x236_qgram_preflight" in cap:
        cols, want = oracle("x236_qgram_preflight")
        got = [tuple(r[cap["x236_qgram_preflight"]["columns"].index(c)] for c in cols)
               for r in cap["x236_qgram_preflight"]["rows"]]
        if [tuple(map(norm, r)) for r in got] != [tuple(map(norm, r)) for r in want]:
            fail("x236_qgram_preflight", "exact_rows", "program %s, reference %s" % (got, want))
    if "x154_qgram_join" in cap:
        cols, ref = oracle("x154_qgram_join")
        want = {(r[cols.index("clean_id")], r[cols.index("dirty_id")]): r[cols.index("dist")]
                for r in ref}
        for q in LINKAGE:
            if q in cap:
                same(q, rows(q, "clean_id", "dirty_id", "dist"), want)
    return len(bad), failures, {}


CHECKS = {"service_steady": check_steady, "llm_dedup_linkage": check_dedup}

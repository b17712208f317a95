"""Seeded generators for the two log formats, with their expected census.

Both generators cover every line / entry class of FIXTURES.md sections 1
and 2 and return the report census the engine must reproduce: row counts
per sheet, the executions sum, the warning count and the pattern count.
The census is derived from the generation choices (and, for the pattern
counts, from the reference fingerprint regexes applied to the generated
query text), never from the engine.

Files are written as `part-NNNNN.log`; lexicographic file order is
generation order, which is the order the engine numbers lines in.
"""
import json
import os
import random
import re

# Reference fingerprints (mongo_parser.py:12-14, mysqlLogParser.py:8-13).
MONGO_FP = re.compile(r"""(:\s*["']?[^,{}\[\]]+["']?\s*(?=[,}]))""")
MYSQL_FP = re.compile(r"(\b\d+\b)|('[^']*')")

MONGO_CLASSES = [
    # (class, weight)
    ("slow_find", 30), ("slow_agg_match", 14), ("slow_agg_nomatch", 5),
    ("slow_no_ns", 1), ("error", 8), ("slow_error", 2), ("benign", 35),
    ("invalid", 3), ("blank", 2)]

ERRORS = [
    ("Error receiving request from client", "SSLHandshakeFailed",
     "SSL handshake received but server is started without SSL support"),
    ("Connection error", "HostUnreachable", "Connection refused"),
    ("Index build failed", "IndexBuildAborted",
     "index build aborted on collection"),
    ("Authentication failed", "AuthenticationFailed",
     "SCRAM authentication failed, storedKey mismatch"),
    ("Write conflict", "WriteConflict", "write conflict during plan execution"),
]
COLLS = ["orders", "users", "carts", "events", "items", "sessions"]
PLANS = ["COLLSCAN", "IXSCAN { user_id: 1 }", "IXSCAN { status: 1, ts: -1 }"]


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"))


def _ts(rng):
    return "2024-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
        rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 999))


def _mongo_command(rng, cls, coll):
    if cls == "slow_agg_match":
        match = ({"user_id": rng.randint(1, 10 ** 6)} if rng.random() < 0.5
                 else {"status": rng.choice("ABCD"), "qty": {"$gt": rng.randint(0, 99)}})
        return {"aggregate": coll, "pipeline": [
            {"$match": match},
            {"$group": {"_id": "$status", "n": {"$sum": 1}}}], "cursor": {}}
    if cls == "slow_agg_nomatch":
        return {"aggregate": coll, "pipeline": [
            {"$sort": {"ts": -1}}, {"$limit": rng.randint(1, 50)}], "cursor": {}}
    if rng.random() < 0.6:
        return {"find": coll, "filter": {"user_id": rng.randint(1, 10 ** 6)},
                "limit": rng.randint(1, 100)}
    return {"find": coll, "filter": {"status": rng.choice("ABCD"),
                                     "qty": {"$gte": rng.randint(0, 99)}},
            "sort": {"ts": -1}}


def _mongo_line(rng, cls, census):
    coll = rng.choice(COLLS)
    if cls == "blank":
        census["warnings"] += 1
        return rng.choice(["", "   "])
    if cls == "benign":
        census["non_slow"] += 1
        return _dumps({"t": {"$date": _ts(rng)}, "s": "I", "c": "NETWORK",
                       "id": 22943, "ctx": "listener", "msg": "Connection accepted",
                       "attr": {"remote": "10.0.%d.%d:%d" % (
                           rng.randint(0, 255), rng.randint(0, 255),
                           rng.randint(1024, 65535)),
                           "connectionCount": rng.randint(1, 500)}})
    if cls == "error":
        msg, code_name, errmsg = rng.choice(ERRORS)
        census["error_keys"].add((msg, code_name, errmsg))
        census["error_lines"] += 1
        return _dumps({"t": {"$date": _ts(rng)}, "s": "E", "c": "NETWORK",
                       "id": 22988, "ctx": "conn%d" % rng.randint(1, 999),
                       "msg": msg, "attr": {"error": {
                           "code": rng.randint(1, 300), "codeName": code_name,
                           "errmsg": errmsg}}})
    cmd = _mongo_command(rng, cls, coll)
    attr = {"type": "command", "ns": "app%d.%s" % (rng.randint(0, 3), coll),
            "command": cmd, "planSummary": rng.choice(PLANS),
            "keysExamined": rng.randint(0, 5000),
            "docsExamined": rng.randint(0, 50000),
            "numYields": rng.randint(0, 50), "nreturned": rng.randint(0, 100),
            "durationMillis": rng.randint(100, 30000)}
    if cls == "slow_no_ns":
        del attr["ns"]
    sev = "I"
    if cls == "slow_error":
        sev = "E"
        attr["error"] = {"code": 50, "codeName": "MaxTimeMSExpired",
                         "errmsg": "operation exceeded time limit"}
        census["error_keys"].add(("Slow query", "MaxTimeMSExpired",
                                  "operation exceeded time limit"))
        census["error_lines"] += 1
    line = _dumps({"t": {"$date": _ts(rng)}, "s": sev, "c": "COMMAND",
                   "id": 51803, "ctx": "conn%d" % rng.randint(1, 999),
                   "msg": "Slow query", "attr": attr})
    if cls == "invalid":
        # a truncated slow-query line: invalid JSON, one warning
        census["warnings"] += 1
        return line[:rng.randint(20, len(line) - 5)]
    census["detailed"] += 1
    census["patterns"].add(MONGO_FP.sub(":<value>", _dumps(cmd)))
    return line


def gen_mongo(out, seed, n_lines, n_files):
    """mongod >= 4.4 JSON-lines directory of `n_lines` lines in `n_files`."""
    rng = random.Random(seed)
    classes = [c for c, _ in MONGO_CLASSES]
    weights = [w for _, w in MONGO_CLASSES]
    census = {"detailed": 0, "non_slow": 0, "error_lines": 0, "warnings": 0,
              "error_keys": set(), "patterns": set()}
    os.makedirs(out, exist_ok=True)
    per_file = -(-n_lines // n_files)
    n = 0
    for f in range(n_files):
        lines = []
        for _ in range(min(per_file, n_lines - n)):
            lines.append(_mongo_line(rng, rng.choices(classes, weights)[0], census))
        n += len(lines)
        with open(os.path.join(out, "part-%05d.log" % f), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {"lines": n_lines,
            "sheets": {"Detailed Metrics": census["detailed"],
                       "Query Stats": len(census["patterns"]),
                       "Non-Slow Queries": census["non_slow"],
                       "Error Stats": len(census["error_keys"])},
            "executions": census["detailed"],
            "error_total": census["error_lines"],
            "warnings": census["warnings"],
            "patterns": len(census["patterns"])}


MYSQL_CLASSES = [
    ("select", 45), ("select_multiline", 20), ("update_decimal", 20),
    ("commit", 10), ("missing_qt", 5)]
PREAMBLE = ("/usr/sbin/mysqld, Version: 8.0.36-28 (Percona Server (GPL), "
            "Release 28). started with:\n"
            "Tcp port: 3306  Unix socket: /var/lib/mysql/mysql.sock\n"
            "Time                 Id Command    Argument\n")


def _mysql_query(rng, cls):
    t = rng.randint(0, 1499)
    c = rng.randint(0, 19)
    if cls == "select":
        return ("SELECT col_%d, name FROM tbl_%d WHERE id = %d AND status = '%s';"
                % (c, t, rng.randint(1, 10 ** 6), rng.choice(["new", "paid", "void"])))
    if cls == "select_multiline":
        return ("SELECT grp_%d,\n  count(*) AS n,\n  sum(amount) AS total\n"
                "FROM sales_%d\nWHERE region = 'r%d' AND day > %d\n"
                "GROUP BY grp_%d\nORDER BY total DESC\nLIMIT %d;"
                % (c, t % 300, rng.randint(0, 9), rng.randint(1, 365), c,
                   rng.randint(5, 50)))
    if cls == "update_decimal":
        return ("UPDATE item_%d SET price = %d.%02d WHERE sku = %d;"
                % (t, rng.randint(1, 999), rng.randint(0, 99), rng.randint(1, 10 ** 6)))
    return "COMMIT;"


def _mysql_entry(rng, cls, census):
    thread = rng.randint(1, 99999)
    query = _mysql_query(rng, "select" if cls == "missing_qt" else cls)
    head = ("# Time: 2024-%02d-%02dT%02d:%02d:%02d.%06dZ\n"
            "# User@Host: app%d[app%d] @ web-%d [10.0.0.%d] thread_id: %d "
            "server_id: 1\n" % (
                rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
                rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 999999),
                thread % 7, thread % 7, thread % 11, thread % 250, thread))
    qt = ("# Query_time: %.6f Lock_time: %.6f Rows_sent: %d Rows_examined: %d\n"
          % (rng.uniform(0.0005, 12.0), rng.uniform(0.0, 0.01),
             rng.randint(0, 1000), rng.randint(0, 10 ** 6)))
    tail = "SET timestamp=%d;\n%s\n" % (1700000000 + rng.randint(0, 10 ** 7), query)
    if cls == "missing_qt":
        census["warnings"] += 1
        return head + tail
    census["detailed"] += 1
    census["patterns"].add(MYSQL_FP.sub("?", query.strip()).upper())
    return head + qt + tail


def gen_mysql(out, seed, n_entries, n_files):
    """Percona slow-query log of `n_entries` entries in `n_files` files,
    each file opening with a server preamble."""
    rng = random.Random(seed)
    classes = [c for c, _ in MYSQL_CLASSES]
    weights = [w for _, w in MYSQL_CLASSES]
    census = {"detailed": 0, "warnings": 0, "patterns": set()}
    os.makedirs(out, exist_ok=True)
    per_file = -(-n_entries // n_files)
    n = 0
    for f in range(n_files):
        k = min(per_file, n_entries - n)
        body = "".join(_mysql_entry(rng, rng.choices(classes, weights)[0], census)
                       for _ in range(k))
        n += k
        with open(os.path.join(out, "part-%05d.log" % f), "w") as fh:
            fh.write(PREAMBLE + body)
    return {"entries": n_entries,
            "sheets": {"Detailed Metrics": census["detailed"],
                       "Aggregate Results": len(census["patterns"])},
            "executions": census["detailed"],
            "warnings": census["warnings"],
            "patterns": len(census["patterns"])}

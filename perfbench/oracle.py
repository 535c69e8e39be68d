"""Independent checks of every op's output.

Nothing here trusts the program: exact metrics and check statuses are
recomputed with DuckDB from the generated inputs, sketch metrics must land
within their stated error of DuckDB's exact value, anomaly flags come from
a Python evaluation of the same strategy over the DuckDB series, and the
curation row is a DuckDB replay of the q136 oracle SQL.
"""
import glob
import math
import os

import duckdb

# Patterns.EMAIL of the library's PatternMatch analyzer (a check's
# definition, not its result).
EMAIL = (r"(?i)[a-z0-9!#$%&'*+\/=?^_`{|}~-]+(?:\.[a-z0-9!#$%&'*+\/=?^_`{|}~-]+)*@"
         r"(?:[a-z0-9](?:[a-z0-9-]*[a-z0-9])?\.)+[a-z0-9](?:[a-z0-9-]*[a-z0-9])?")
HLL_REL_ERR = 3 * 1.04 / math.sqrt(1 << 12)   # 3 standard errors at lg_k = 12
KLL_RANK_ERR = 0.01                            # sketch size 2048 = relativeError 0.01
REL_TOL = 1e-9


def _q(name):
    return '"%s"' % name


def _lit(v):
    return "'" + str(v).replace("'", "''") + "'"


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


class Relation:
    """Exact metrics of one DuckDB relation, following the library's
    documented metric definitions (grouping metrics ignore rows whose
    grouping columns are all NULL; ratios count NULL as non-matching)."""

    def __init__(self, con, source):
        self.con, self.src = con, source
        self.n = _one(con, "SELECT count(*) FROM %s" % source)

    def ratio(self, pred):
        return _one(self.con, "SELECT sum(CASE WHEN %s THEN 1 ELSE 0 END)::DOUBLE / count(*) "
                              "FROM %s" % (pred, self.src))

    def freq(self, cols):
        cs = ", ".join(_q(c) for c in cols)
        nn = " OR ".join("%s IS NOT NULL" % _q(c) for c in cols)
        return "(SELECT %s, count(*) AS n FROM %s WHERE %s GROUP BY ALL)" % (cs, self.src, nn)

    def exact(self, c):
        k, cols = c["kind"], c.get("cols", [])
        col = _q(cols[0]) if cols else None
        f = lambda agg: _one(self.con, "SELECT (%s)::DOUBLE FROM %s" % (agg, self.src))
        if k == "size":
            return float(self.n)
        if k == "completeness":
            return f("count(%s)::DOUBLE / count(*)" % col)
        if k in ("uniqueness", "duplicate_rows", "unique_value_ratio", "count_distinct",
                 "entropy"):
            fr = self.freq(cols)
            agg = {"uniqueness": "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE / sum(n)",
                   "duplicate_rows": "coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)",
                   "unique_value_ratio": "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)",
                   "count_distinct": "count(*)",
                   "entropy": "ln(sum(n)) - sum(n * ln(n)) / sum(n)"}[k]
            return _one(self.con, "SELECT (%s)::DOUBLE FROM %s" % (agg, fr))
        if k == "mutual_information":
            a, b = _q(cols[0]), _q(cols[1])
            fr = self.freq(cols)
            return _one(self.con, """
                WITH j AS %s, t AS (SELECT sum(n)::DOUBLE AS tot FROM j),
                m1 AS (SELECT %s AS k, sum(n) AS c FROM j GROUP BY 1),
                m2 AS (SELECT %s AS k, sum(n) AS c FROM j GROUP BY 1)
                SELECT coalesce(sum((j.n / t.tot) * ln((j.n / t.tot) /
                    ((m1.c / t.tot) * (m2.c / t.tot)))), 0)
                FROM j, t, m1, m2
                WHERE j.%s IS NOT DISTINCT FROM m1.k AND j.%s IS NOT DISTINCT FROM m2.k
                """ % (fr, a, b, a, b))
        if k == "non_negative":
            return self.ratio("coalesce(%s, 0.0) >= 0" % col)
        if k == "contained_in":
            return self.ratio("%s IS NULL OR %s IN (%s)" % (col, col, ", ".join(
                _lit(v) for v in c["values"])))
        if k == "in_range":
            lo, hi = c["range"]
            return self.ratio("%s IS NULL OR (%s >= %r AND %s <= %r)" % (col, col, lo, col, hi))
        if k == "leq":
            return self.ratio("%s <= %s" % (_q(cols[0]), _q(cols[1])))
        if k in ("pattern", "email"):
            pat = c["pattern"] if k == "pattern" else EMAIL
            return self.ratio("regexp_matches(%s, %s)" % (col, _lit(pat)))
        if k == "min":
            return f("min(%s)" % col)
        if k == "max":
            return f("max(%s)" % col)
        if k == "mean":
            return f("avg(%s)" % col)
        if k == "sum":
            return f("sum(%s)" % col)
        if k == "stddev":
            return f("stddev_pop(%s)" % col)
        if k == "correlation":
            return f("corr(%s, %s)" % (_q(cols[0]), _q(cols[1])))
        if k == "min_length":
            return f("min(length(%s))" % col)
        if k == "max_length":
            return f("max(length(%s))" % col)
        if k == "histogram":
            return self.ratio("%s = %s" % (col, _lit(c["value"])))
        if k == "exact_quantile":
            return f("quantile_cont(%s, %r)" % (col, c["q"]))
        if k == "approx_count_distinct":
            return f("count(DISTINCT %s)" % col)
        raise ValueError("no exact form for %s" % k)


def _holds(c, v):
    return (c.get("lo") is None or v >= c["lo"]) and (c.get("hi") is None or v <= c["hi"])


def expect_constraint(rel, c):
    """Returns a checker(value) -> (ok, reason) and the expected status."""
    k = c["kind"]
    col = _q(c["cols"][0]) if c.get("cols") else None
    if k == "approx_quantile":
        nn = _one(rel.con, "SELECT count(%s) FROM %s" % (col, rel.src))
        exact = _one(rel.con, "SELECT quantile_disc(%s, %r)::DOUBLE FROM %s" % (col, c["q"], rel.src))

        def check(v):
            below = _one(rel.con, "SELECT count(*) FILTER (WHERE %s < %r) FROM %s" % (col, v, rel.src))
            upto = _one(rel.con, "SELECT count(*) FILTER (WHERE %s <= %r) FROM %s" % (col, v, rel.src))
            ok = below / nn <= c["q"] + KLL_RANK_ERR and upto / nn >= c["q"] - KLL_RANK_ERR
            return ok, "rank of %r outside q=%s +- %s" % (v, c["q"], KLL_RANK_ERR)
        return check, _holds(c, exact)
    if k == "approx_count_distinct":
        exact = rel.exact(c)

        def check(v):
            return (abs(v - exact) <= HLL_REL_ERR * exact,
                    "HLL %r vs exact %r beyond %.4f" % (v, exact, HLL_REL_ERR))
        return check, _holds(c, exact)
    if k == "kll":
        nn, lo_x, hi_x = rel.con.execute("SELECT count(%s), min(%s)::DOUBLE, max(%s)::DOUBLE FROM %s"
                                         % (col, col, col, rel.src)).fetchone()
        # the expected status uses exact counts over the same even-width buckets
        width = (hi_x - lo_x) / 10 if hi_x > lo_x else 1.0

        def exact_counts(bounds):
            out = []
            for i, (lo, hi) in enumerate(bounds):
                conds = []
                if i > 0:
                    conds.append("%s >= %r" % (col, lo))
                if i < len(bounds) - 1:
                    conds.append("%s <= %r" % (col, hi))
                conds.append("%s IS NOT NULL" % col)
                out.append(_one(rel.con, "SELECT count(*) FROM %s WHERE %s"
                                % (rel.src, " AND ".join(conds))))
            return out
        ideal = [(lo_x + b * width, hi_x if b == 9 else lo_x + (b + 1) * width) for b in range(10)]
        counts = exact_counts(ideal)
        expected = _holds(c, max(counts) / nn)

        def check(v):
            if not isinstance(v, dict):
                return False, "no KLL buckets"
            b = v["buckets"]
            # an item equal to a bucket edge counts in both neighbours, so
            # the bucket counts need not sum to n; the edges must be exact
            if b[0][0] != lo_x or b[-1][1] != hi_x:
                return False, "KLL min/max differ from exact"
            ex = exact_counts([(x[0], x[1]) for x in b])
            bad = [i for i, x in enumerate(b) if abs(x[2] - ex[i]) > 2 * KLL_RANK_ERR * nn]
            return not bad, "KLL bucket counts %s off by > 2*eps*n" % bad
        return check, expected
    exact = rel.exact(c)
    if k == "histogram":
        absolute = _one(rel.con, "SELECT count(*) FROM %s WHERE %s = %s" % (rel.src, col, _lit(c["value"])))

        def check(v):
            ok = isinstance(v, dict) and v["absolute"] == absolute and _close(v["ratio"], exact)
            return ok, "histogram %r vs exact (%r, %r)" % (v, absolute, exact)
        return check, _holds(c, exact)

    def check(v):
        return _close(v, exact), "%s: %r vs exact %r" % (c["id"], v, exact)
    return check, _holds(c, exact)


def expected_report(rel, checks, extra=()):
    """Per check: level and per-constraint (id, checker, expected pass).
    `extra` appends (check name, level, constraint id, expected pass)."""
    out = []
    for ch in checks:
        out.append((ch["name"], ch["level"],
                    [(c["id"],) + expect_constraint(rel, c) for c in ch["constraints"]]))
    for name, level, cid, passes in extra:
        out.append((name, level, [(cid, None, passes)]))
    return out


def compare_report(report, expected):
    """Returns a list of mismatches between an op's report and expectations."""
    errs = []
    if report is None:
        return ["no output"]
    got = {c["name"]: c for c in report["checks"]}
    overall = "Success"
    for name, level, cons in expected:
        ch = got.get(name)
        if ch is None:
            errs.append("missing check %s" % name)
            continue
        byid = {c["id"]: c for c in ch["constraints"]}
        any_fail = False
        for cid, checker, passes in cons:
            r = byid.get(cid)
            if r is None:
                errs.append("missing constraint %s" % cid)
                continue
            want = "Success" if passes else "Failure"
            if r["status"] != want:
                errs.append("%s status %s, expected %s" % (cid, r["status"], want))
            if checker is not None:
                ok, why = checker(r["value"])
                if not ok:
                    errs.append(why)
            any_fail |= not passes
        want_check = level if any_fail else "Success"
        if ch["status"] != want_check:
            errs.append("check %s status %s, expected %s" % (name, ch["status"], want_check))
        if want_check == "Error" or (want_check == "Warning" and overall == "Success"):
            overall = want_check
    if report["status"] != overall:
        errs.append("overall status %s, expected %s" % (report["status"], overall))
    return errs


class _Cache:
    """Memoizes checker results per value: every op of a run sees the
    same input, so each distinct output is checked against DuckDB once."""

    def __init__(self, expected):
        self.expected = expected
        self.seen = {}

    def __call__(self, report):
        key = repr(report)
        if key not in self.seen:
            self.seen[key] = compare_report(report, self.expected)
        return self.seen[key]


# Each check_* returns (per-op error lists, run-level errors, notes).


def check_batch(data, suites, ops):
    con = duckdb.connect()
    src = "read_parquet(%s)" % _lit(os.path.join(data, "wide", "*.parquet"))
    cmp = _Cache(expected_report(Relation(con, src), suites["batch"]["checks"]))
    return [cmp(op.get("output")) for op in ops], [], []


def _detect_absolute_change(series, max_dec, max_inc):
    """AbsoluteChangeStrategy (order 1) on the newest point of `series`."""
    if len(series) < 2:
        return False
    change = series[-1] - series[-2]
    return (max_dec is not None and change < max_dec) or (max_inc is not None and change > max_inc)


def check_incremental(data, suites, ops):
    con = duckdb.connect()
    days = sorted(glob.glob(os.path.join(data, "days", "*.parquet")))
    rows = sorted(_one(con, "SELECT count(*) FROM read_parquet(%s)" % _lit(d)) for d in days)
    nominal = float(rows[len(rows) // 2])
    spec = suites["incremental"]
    by_id = {c["id"]: c for ch in spec["checks"] for c in ch["constraints"]}
    series = {a["id"]: [] for a in spec["anomaly"]}
    expected = {}
    for k in range(1, len(days) + 1):
        src = "read_parquet([%s])" % ", ".join(_lit(d) for d in days[:k])
        rel = Relation(con, src)
        extra = []
        for a in spec["anomaly"]:
            series[a["id"]].append(rel.exact(by_id[a["metric"]]))
            inc = a.get("max_increase_day_rows")
            flagged = _detect_absolute_change(series[a["id"]], a.get("max_decrease"),
                                              inc * nominal if inc is not None else None)
            extra.append((a["id"], "Warning", "AnomalyConstraint", not flagged))
        expected[k] = _Cache(expected_report(rel, spec["checks"], extra))
    results = []
    for op in ops:
        out = op.get("output")
        results.append(["no output"] if out is None else expected[int(out["day"])](out["report"]))
    flags = {a: [] for a in series}
    for a in spec["anomaly"]:
        inc = a.get("max_increase_day_rows")
        for k in range(1, len(days) + 1):
            flags[a["id"]].append(_detect_absolute_change(
                series[a["id"]][:k], a.get("max_decrease"), inc * nominal if inc is not None else None))
    return results, [], ["anomalous days %s" % {a: [i + 1 for i, f in enumerate(v) if f]
                                                for a, v in flags.items()}]


CURATION_KEYS = ["n_input", "boiler_removed", "nb_kept", "perp_kept", "final_docs",
                 "final_tokens", "final_id_sum", "shards_nonempty", "max_shard_docs",
                 "min_shard_docs"]


def check_curation(data, oracle_sql_path, ops, survivors_dir):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet(%s)"
                % _lit(os.path.join(data, "corpus", "documents.parquet")))
    with open(oracle_sql_path) as f:
        want = dict(zip(CURATION_KEYS, (float(x) for x in con.execute(f.read()).fetchone())))
    results = []
    for op in ops:
        out = op.get("output")
        if out is None:
            results.append(["no output"])
            continue
        errs = ["%s = %r, DuckDB %r" % (k, out["row"].get(k), v)
                for k, v in want.items() if out["row"].get(k) != v]
        docs = [v for name, v in out["censuses"] if name.endswith("_docs") or name.endswith("_kept")]
        if any(b > a for a, b in zip(docs, docs[1:])):
            errs.append("stage census increased: %r" % out["censuses"])
        results.append(errs)
    run_errs = []
    ids = con.execute("SELECT doc_id FROM read_parquet(%s)"
                      % _lit(os.path.join(survivors_dir, "*.parquet"))).fetchall()
    ids = [r[0] for r in ids]
    if len(ids) != len(set(ids)) or len(ids) != want["final_docs"]:
        run_errs.append("survivors: %d ids (%d distinct), expected %d"
                        % (len(ids), len(set(ids)), want["final_docs"]))
    con.execute("CREATE TABLE surv AS SELECT * FROM read_parquet(%s)"
                % _lit(os.path.join(survivors_dir, "*.parquet")))
    stray = _one(con, "SELECT count(*) FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM documents)")
    if stray:
        run_errs.append("%d survivors not in the input" % stray)
    return results, run_errs, []

"""Percentile rule, metric printer and the figures a run reports.

The JVM side hands over raw samples; everything statistical happens
here so it can be tested without Spark (see test_report.py).
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]+$")
# the reference service logs a history request over this budget as slow
BUDGET_MS = 1000.0
READ_KINDS = ("flex_timeline", "agg_timeline", "aggregate", "last_value")


def nearest_rank(sorted_xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank method."""
    n = len(sorted_xs)
    k = max(1, math.ceil(p / 100.0 * n))
    return sorted_xs[k - 1]


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, as (percentile, value, sample count); None below beyond+1
    samples."""
    n = len(xs)
    if n < beyond + 1:
        return None
    s = sorted(xs)
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p, nearest_rank(s, p), n
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def line(name, value, unit, note=""):
    """One printed metric: `name = value unit (note)`. Rejects names and
    units outside the allowed alphabets."""
    if not NAME_RE.match(name):
        raise ValueError("bad metric name %r" % name)
    if not UNIT_RE.match(unit):
        raise ValueError("bad unit %r for %s" % (unit, name))
    text = "%-28s = %.6g %s" % (name, value, unit)
    return text + ("  (%s)" % note if note else "")


def e2e(res):
    """The contract's end-to-end metrics of an untraced run, plus the
    report lines for the workload's own metrics. Returns (metrics dict
    name -> (value, unit), report lines)."""
    wl = res["workload"]
    ops = [(k, ms) for k, ms, traced in res["ops"] if not traced]
    # a request stream with a fixed type cycle counts whole cycles only,
    # so every run's figure rests on the same mix
    cycle = res.get("cycle", 0)
    if cycle and len(ops) >= cycle:
        ops = ops[:len(ops) // cycle * cycle]
    lat = [ms for _, ms in ops]
    per = {}
    for k, ms in ops:
        per.setdefault(k, []).append(ms)
    p50 = median(lat)
    rate = res["work"] / res["wall_s"]
    setup = median(res["setup_s"])
    if wl == "pipeline":
        latency = sum(median(xs) for xs in per.values())
        note = "sum of %d per-query medians" % len(per)
    elif cycle:
        # the cycle mixes request types whose latencies differ by 2x, so
        # its median falls between two types and moves with two samples;
        # the mean over whole cycles uses every sample
        latency = statistics.mean(lat)
        note = "mean of %d samples, whole cycles" % len(lat)
    else:
        latency = p50
        note = "p50 of %d samples" % len(lat)
    metrics = {"setup_s": (setup, "s"), "latency_ms": (latency, "ms")}
    t = tail(lat)
    tail_line = (line("tail_ms", t[1], "ms", "p%d of %d samples" % (t[0], t[2])) if t
                 else "%-28s = n/a  (%d samples, a tail needs 11)" % ("tail_ms", len(lat)))
    out = [line("setup_s", setup, "s", "median of %d set-ups" % len(res["setup_s"])),
           line("latency_ms", latency, "ms", note),
           line("p50_ms", p50, "ms", "p50 of %d samples" % len(lat)),
           tail_line,
           line("work_per_s", rate, "1/s")]
    attempted = max(1, res["attempted"])
    if wl == "ingest":
        out += [line("ingest_pts_per_s", rate, "points/s", "accepted points"),
                line("batch_p50_s", p50 / 1e3, "s", "p50 of %d samples" % len(lat))]
        if t:
            out.append(line("batch_tail_s", t[1] / 1e3, "s",
                            "p%d of %d samples" % (t[0], t[2])))
    elif wl in ("history", "mixed"):
        out.append(line("read_p50_ms", p50, "ms", "p50 of %d samples" % len(lat)))
        if t:
            out.append(line("read_tail_ms", t[1], "ms", "p%d of %d samples" % (t[0], t[2])))
        for k in READ_KINDS:
            xs = [ms for kind, ms in ops if kind == k]
            if xs:
                out.append(line("%s_p50_ms" % k, median(xs), "ms",
                                "p50 of %d samples" % len(xs)))
    elif wl == "pipeline":
        for k in sorted(per):
            out.append(line("query.%s_ms" % k, median(per[k]), "ms",
                            "p50 of %d samples" % len(per[k])))
    for name, (value, unit) in res["extra"].items():
        if value is not None:
            out.append(line(name, value, unit))
    out.append(line("failed_share", res["failed"] / attempted, "share",
                    "%d of %d operations" % (res["failed"], res["attempted"])))
    return metrics, out


def layers(res, names_units):
    """Per-layer metrics of a traced run: the JVM's figures, plus the
    tracing overhead and the share of reads over the budget, computed
    from the latency samples."""
    untraced = [ms for _, ms, tr in res["ops"] if not tr]
    traced = [ms for _, ms, tr in res["ops"] if tr]
    got = dict(res["layers"])
    got["trace.overhead_share"] = (median(traced) / median(untraced) - 1
                                   if traced and untraced else 0.0)
    reads = [ms for k, ms, _ in res["ops"] if k in READ_KINDS]
    got["read.over_budget_share"] = (sum(ms > BUDGET_MS for ms in reads) / len(reads)
                                     if reads else 0.0)
    missing = [n for n, _ in names_units if n not in got]
    if missing:
        raise ValueError("per-layer metrics missing: %s" % ", ".join(missing))
    metrics = {n: (float(got[n]), u) for n, u in names_units}
    return metrics, [line(n, v, u) for n, (v, u) in metrics.items()]

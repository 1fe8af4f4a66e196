"""The benchmark's arithmetic: turns the harness's raw record into metrics.

Kept free of I/O so that `test_perfbench.py` can check it directly.
"""

import math
import statistics

# Tail percentiles considered, highest first; the median is always reported.
TAIL_CANDIDATES = (0.9, 0.75)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile."""
    values = sorted(values)
    if not values:
        raise ValueError("percentile of no samples")
    return values[max(0, math.ceil(p * len(values) - 1e-9) - 1)]


def tail_percentile(values):
    """(p, value) for p90, or the highest lower percentile that has at
    least MIN_BEYOND samples beyond it; the median when none has."""
    for p in TAIL_CANDIDATES:
        if len(values) * (1 - p) >= MIN_BEYOND - 1e-9:
            return p, percentile(values, p)
    return 0.5, percentile(values, 0.5)


def self_time(span, children):
    """A span's duration minus the part of it that its children cover.

    Children may overlap each other and may stick out of the parent; only
    the union of their intervals, clipped to the parent, is subtracted.
    """
    lo, hi = span["start"], span["end"]
    cuts = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in cuts:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def freshness(arrivals):
    """Seconds from each arrival's *scheduled* time to the end of the poll
    that made it visible; the time the generator actually moved the file
    does not count, so a stalled generator cannot hide a stalled worker."""
    return [a["committed"] - a["scheduled"] for a in arrivals
            if a["committed"] is not None]


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def median(values):
    return statistics.median(values) if values else 0.0


class Spans:
    """Index over the harness's spans and the counters attached to them."""

    def __init__(self, record):
        self.spans = record.get("spans", [])
        self.counters = record.get("counters", {})
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def roots(self, name):
        """Measured spans: top level, outside every set-up round."""
        return [s for s in self.children.get(0, []) if s["name"] == name]

    def under(self, parents, name):
        out = []
        for p in parents:
            stack = list(self.children.get(p["id"], []))
            while stack:
                s = stack.pop()
                if s["name"] == name:
                    out.append(s)
                stack.extend(self.children.get(s["id"], []))
        return sorted(out, key=lambda s: s["start"])

    def named(self, name):
        return sorted((s for s in self.spans if s["name"] == name),
                      key=lambda s: s["start"])

    def count(self, span, key):
        return self.counters.get(str(span["id"]), {}).get(key, 0)

    def self_s(self, span):
        return self_time(span, self.children.get(span["id"], []))


def _dur(s):
    return s["end"] - s["start"]


E2E_UNITS = {"setup_s": "s", "posts_per_s": "posts/s",
             "freshness_s_p50": "s", "freshness_s_p90": "s"}

LAYER_UNITS = {
    "tables.scan_s": "s", "tables.input_bytes": "bytes",
    "tokenize.s": "s", "tokenize.tokens": "count", "tokenize.task_cpu_s": "s",
    "docvec.s": "s", "docvec.self_s": "s", "docvec.task_cpu_s": "s",
    "docvec.shuffle_write_bytes": "bytes", "docvec.spill_bytes": "bytes",
    "docvec.gc_s": "s", "docvec.peak_exec_mem_bytes": "bytes",
    "docvec.jobs": "count", "docvec.stages": "count", "docvec.exchanges": "count",
    "dim.s": "s", "dim.rows": "count", "dim.shuffle_bytes": "bytes",
    "dim.jobs": "count",
    "store.write_s": "s", "store.bytes": "bytes", "store.files": "count",
    "stream.polls": "count", "stream.poll_s_p50": "s", "stream.poll_s_p90": "s",
    "stream.posts_per_poll": "posts", "stream.addbatch_s": "s",
    "stream.overhead_s": "s",
    "store.merge_shuffle_bytes_per_poll": "bytes",
    "store.bytes_written_per_poll": "bytes",
    "store.write_amplification": "ratio", "store.rows_end": "count",
    "caches.persisted_rdds": "count", "caches.storage_mem_bytes": "bytes",
    "gen.lag_s_max": "s", "error_rate": "fraction",
}


def batch_outcome(record, pin):
    """(attempted, failed, e2e, notes) for a batch workload. A pass (or
    build) fails when it throws, or when its output does not have the
    pinned number of rows, one row per key and the pinned digest."""
    posts = record["posts"]
    good, failed = [], 0
    for p in record["passes"]:
        ok = (p.get("error") is None and p.get("rows") == pin["rows"]
              and p.get("distinct") == pin["rows"] and p.get("digest") == pin["digest"])
        if ok:
            good.append(p)
        else:
            failed += 1
    notes = []
    e2e = {"setup_s": median(record["setup_s"])}
    if good:
        walls = [_dur(p) for p in good]
        # every post of a pass becomes visible when the pass ends, so the
        # posts of one pass are one sample, not thousands
        p, tail = tail_percentile(walls)
        e2e.update(posts_per_s=posts / median(walls),
                   freshness_s_p50=percentile(walls, 0.5), freshness_s_p90=tail)
        notes.append("freshness_s_p90 is p%g over %d passes" % (p * 100, len(good)))
    return len(record["passes"]), failed, e2e, notes


def stream_outcome(record):
    """(attempted, failed, e2e, notes) for the open-loop stream. Attempted
    operations are arrivals and polls; an arrival never committed, a poll
    that threw, and a wrong or duplicated store row each count as failed."""
    arrivals, polls, check = record["arrivals"], record["polls"], record["check"]
    lost = sum(1 for a in arrivals if a["committed"] is None)
    bad_polls = sum(1 for p in polls if p.get("error") is not None)
    wrong = check["mismatched"] + (check["rows"] - check["distinct"])
    attempted = len(arrivals) + len(polls)
    failed = lost + bad_polls + min(len(arrivals) - lost, wrong)
    e2e = {"setup_s": median(record["setup_s"])}
    notes = []
    fresh = freshness(arrivals)
    if fresh:
        p, tail = tail_percentile(fresh)
        done = [a for a in arrivals if a["committed"] is not None]
        span = max(a["committed"] for a in done) - record["window_start"]
        e2e.update(posts_per_s=sum(a["posts"] for a in done) / span,
                   freshness_s_p50=percentile(fresh, 0.5), freshness_s_p90=tail)
        notes.append("freshness_s_p90 is p%g over %d arrivals" % (p * 100, len(fresh)))
    return attempted, failed, e2e, notes


def layers(record, attempted, failed):
    """Every per-layer metric, from a traced run.

    Scan and token layers come from the top-level `build` spans when
    there are any (idf_dimension), else from the top-level `pass` spans;
    vector and store layers come from the `pass` spans and stream layers
    from the top-level `poll` spans. A traced run probes the layers its
    workload does not drive once, on its own state: the stream runs one
    batch pass over the window's arrivals; a batch run passes over the
    corpus (idf_dimension) and upserts one arrival file into the store
    with one poll.
    """
    sp = Spans(record)
    m = {k: 0 for k in LAYER_UNITS}
    notes = []
    m["error_rate"] = error_rate(attempted, failed)

    dims = sp.named("dim")
    if dims:
        m["dim.s"] = median([_dur(s) for s in dims])
        m["dim.shuffle_bytes"] = sp.count(dims[-1], "shuffle_write_bytes")
        m["dim.jobs"] = sp.count(dims[-1], "jobs")
    m["dim.rows"] = record.get("dim_rows", 0)
    if record.get("caches"):
        last = record["caches"][-1]
        m["caches.persisted_rdds"] = last["persisted_rdds"]
        m["caches.storage_mem_bytes"] = last["storage_mem_bytes"]
    store = record.get("store", {})
    m["store.bytes"] = store.get("bytes", 0)
    m["store.files"] = store.get("files", 0)
    m["store.rows_end"] = store.get("rows", 0)

    passes = sp.roots("pass")
    scans = sp.roots("build") or passes

    def med(name, f, roots=passes):
        return median([f(s) for s in sp.under(roots, name)])

    m["tables.scan_s"] = med("tables", _dur, scans)
    m["tables.input_bytes"] = record.get("table_bytes", 0)
    m["tokenize.s"] = med("tokenize", _dur, scans)
    m["tokenize.tokens"] = record.get("tokens", 0)
    m["tokenize.task_cpu_s"] = med("tokenize", lambda s: sp.count(s, "task_cpu_s"), scans)
    m["docvec.s"] = med("docvec", _dur)
    m["docvec.self_s"] = med("docvec", sp.self_s)
    for key in ("task_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s",
                "peak_exec_mem_bytes", "jobs", "stages"):
        m["docvec." + key] = med("docvec", lambda s, c=key: sp.count(s, c))
    m["docvec.exchanges"] = record.get("exchanges", 0)
    m["store.write_s"] = med("store", _dur)

    polls = record.get("polls", [])
    busy = [(p, s) for p, s in zip(polls, sp.roots("poll")) if p["files"] > 0]
    m["stream.polls"] = len(polls)
    if busy:
        durs = [_dur(s) for _, s in busy]
        m["stream.poll_s_p50"] = median(durs)
        p, m["stream.poll_s_p90"] = tail_percentile(durs)
        notes.append("stream.poll_s_p90 is p%g over %d non-empty polls"
                     % (p * 100, len(durs)))
        arrivals = record.get("arrivals", [])
        posts = sum(a["posts"] for a in arrivals if a["committed"] is not None)
        m["stream.posts_per_poll"] = posts / len(busy)
        prog = record.get("progress", {})

        def batch_sum(poll, key):
            return sum(b[key] for b in prog.get(poll["run_id"] or "", []))
        m["stream.addbatch_s"] = median([batch_sum(p, "add_batch_s") for p, _ in busy])
        m["stream.overhead_s"] = median(
            [batch_sum(p, "trigger_s") - batch_sum(p, "add_batch_s") for p, _ in busy])
        m["store.merge_shuffle_bytes_per_poll"] = median(
            [sp.count(s, "shuffle_write_bytes") for _, s in busy])
        written = median([sp.count(s, "output_bytes") for _, s in busy])
        m["store.bytes_written_per_poll"] = written
        rows = store.get("rows", 0)
        if rows and store.get("bytes") and m["stream.posts_per_poll"]:
            poll_bytes = store["bytes"] / rows * m["stream.posts_per_poll"]
            m["store.write_amplification"] = written / poll_bytes
        lags = [a["moved"] - a["scheduled"] for a in arrivals if a["moved"] is not None]
        m["gen.lag_s_max"] = max(lags) if lags else 0
    return m, notes

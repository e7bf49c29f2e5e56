"""Input generation, output checks and metric arithmetic for the benchmark.

Pure Python, no Spark: `run.py` feeds it the raw samples the JVM driver
writes, and `test_benchlib.py` tests it on hand-made samples.
"""
import collections
import random
import statistics

# The generated file's minimal unique prefix length (see generate_emails).
PREFIX_LEN = 9

# Real mail domains with a skewed (Zipf-like) share of lines each.
DOMAINS = ["gmail.com", "yahoo.com", "hotmail.com", "msn.com", "aol.com",
           "sbcglobal.net", "comcast.net", "outlook.com", "icloud.com",
           "verizon.net", "att.net", "live.com", "me.com", "mac.com",
           "earthlink.net", "optonline.net", "cox.net", "charter.net",
           "juno.com", "rocketmail.com"]
NAMES = ["adam", "alex", "amy", "anna", "ben", "bob", "carl", "chris", "dan",
         "dave", "eidac", "emma", "eric", "eva", "frank", "gary", "grace",
         "hank", "ian", "jack", "jane", "jim", "joe", "john", "kate", "kim",
         "lee", "lisa", "mark", "mary", "max", "mike", "nick", "nina", "pat",
         "paul", "pete", "rick", "rob", "rose", "sam", "sara", "tim", "tom",
         "will", "zoe", "adillon", "amichalo", "danzig", "jimmichie"]
TAIL = "abcdefghijklmnopqrstuvwxyz0123456789._"


def generate_emails(seed, n):
    """`n` distinct e-mail lines in the shape of the reference's emails.txt.

    Returns (lines, domain_tally). Lines whose first PREFIX_LEN characters
    repeat an earlier line's are rejected and drawn again, and one planted
    pair shares exactly PREFIX_LEN - 1 characters, so the minimal unique
    prefix is PREFIX_LEN on every seed and the loop operators run the same
    number of rounds whatever the seed.
    """
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(len(DOMAINS))]
    seen = set()
    lines = []
    while len(lines) < n:
        k = n - len(lines)
        lens = rng.choices(range(3, 8), k=k)
        tail = "".join(rng.choices(TAIL, k=sum(lens)))
        pos = 0
        for name, ln, domain in zip(rng.choices(NAMES, k=k), lens,
                                    rng.choices(DOMAINS, weights=weights, k=k)):
            line = name + tail[pos:pos + ln] + "@" + domain
            pos += ln
            if line[:PREFIX_LEN] not in seen:
                seen.add(line[:PREFIX_LEN])
                lines.append(line)
    # The planted near-collision: the last line gives way to a copy of an
    # earlier line that differs first at character PREFIX_LEN (1-based),
    # taken from the first line that still has such a free variant.
    lines.pop()
    lines.append(next(
        twin for base in lines if base.index("@") >= PREFIX_LEN
        for twin in (base[:PREFIX_LEN - 1] + c + base[PREFIX_LEN:] for c in TAIL)
        if twin[:PREFIX_LEN] not in seen))
    tally = collections.Counter(l[l.index("@") + 1:] for l in lines)
    return lines, dict(tally)


def minimal_unique_prefix(lines):
    """Smallest L at which all L-prefixes of the non-empty lines differ;
    None when a line repeats. The longest common prefix of any two lines is
    reached by two neighbours in sorted order, so L is one more than the
    longest one between neighbours."""
    xs = sorted(l for l in lines if l)
    if not xs:
        return None
    lcp = 0
    for a, b in zip(xs, xs[1:]):
        if a == b:
            return None
        while a[:lcp + 1] == b[:lcp + 1]:
            lcp += 1
    return lcp + 1


def output_ok(expected, got):
    """The output check: a row count, a prefix length or a domain tally
    must equal the expected value exactly; a missing output never passes."""
    if got is None or expected is None:
        return False
    if isinstance(expected, dict):
        return isinstance(got, dict) and {k: int(v) for k, v in got.items()} == \
            {k: int(v) for k, v in expected.items()}
    return int(got) == int(expected)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, reach = 0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


def check_calls(samples, expected):
    """(attempted, failed) over every call of the run, warm-up included: a
    call fails when it raised or its output differs from `expected[call]`."""
    failed = sum(1 for c in samples
                 if c["error"] is not None
                 or not output_ok(expected.get(c["call"]), c["output"]))
    return len(samples), failed


def passes(samples, phase):
    """Calls of one phase grouped by pass, in pass order."""
    by = collections.OrderedDict()
    for c in samples:
        if c["phase"] == phase:
            by.setdefault(c["pass"], []).append(c)
    return list(by.values())


def pass_seconds(samples, phase):
    """A typical pass's wall time (checks excluded): the sum over the
    workload's calls of each call's median latency in the phase. A burst of
    host load that slows one call in one pass moves only that call's
    sample, not a whole pass."""
    by = collections.defaultdict(list)
    for c in samples:
        if c["phase"] == phase:
            by[c["call"]].append(c["total_s"])
    return sum(statistics.median(xs) for xs in by.values())


def end_to_end(result):
    return {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (pass_seconds(result["samples"], "timed"), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }


def _in_window(ms, call):
    return call["start_ms"] <= ms <= call["end_ms"]


def layer_pass(calls, jobs, progress):
    """Per-layer counters of one traced pass: jobs and streaming triggers
    are attributed to the call whose window they started in, so the
    untimed output checks between calls are left out."""
    m = collections.Counter()
    for c in calls:
        cj = [j for j in jobs if _in_window(j["start_ms"], c)]
        window = (c["start_ms"], c["end_ms"])
        in_jobs = union_length([(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0
                                 else c["end_ms"]) for j in cj], *window) / 1e3
        spans = c["spans"]
        m["entry.build_s"] += spans.get("entry", 0.0)
        m["catalyst.plan_s"] += spans.get("plan", 0.0)
        m["exec.write_s"] += spans.get("write", 0.0)
        m["scheduler.jobs"] += len(cj)
        m["scheduler.in_jobs_s"] += in_jobs
        m["scheduler.outside_jobs_s"] += c["total_s"] - in_jobs
        for key, name, scale in JOB_COUNTERS:
            m[name] += sum(j.get(key, 0) for j in cj) * scale
        for p in progress:
            if _in_window(p["ts_ms"], c):
                m["stream.batches"] += 1
                m["stream.empty_batches"] += p["input_rows"] == 0
                for key, name, scale in PROGRESS_COUNTERS:
                    m[name] += p[key] * scale
        if c["call"].startswith("parity."):
            kind = c["call"].split(".", 1)[1]
            m["parity.%s_s" % kind] += c["total_s"]
            if kind == "iterative":
                m["parity.iterative_jobs"] += len(cj)
    tasks = m["scheduler.tasks"]
    m["tasks.useful_ratio"] = 1.0 - m["tasks.failed"] / tasks if tasks else 1.0
    m["blockstore.resident_rdds_after"] = max(c["resident_rdds_after"] for c in calls)
    return m


MB = 1.0 / (1 << 20)
JOB_COUNTERS = [
    ("stages", "scheduler.stages", 1), ("tasks", "scheduler.tasks", 1),
    ("run_ms", "tasks.run_s", 1e-3), ("cpu_ns", "tasks.cpu_s", 1e-9),
    ("gc_ms", "tasks.gc_s", 1e-3), ("tasks_failed", "tasks.failed", 1),
    ("shuffle_write_bytes", "shuffle.write_mb", MB),
    ("shuffle_read_bytes", "shuffle.read_mb", MB),
    ("spill_bytes", "shuffle.spill_mb", MB),
    ("fetch_wait_ms", "shuffle.fetch_wait_s", 1e-3),
    ("scan_rows", "scan.rows", 1), ("scan_bytes", "scan.mb", MB),
]
PROGRESS_COUNTERS = [
    ("input_rows", "stream.input_rows", 1), ("trigger_ms", "stream.trigger_s", 1e-3),
    ("add_batch_ms", "stream.add_batch_s", 1e-3),
    ("query_planning_ms", "stream.query_planning_s", 1e-3),
    ("latest_offset_ms", "stream.latest_offset_s", 1e-3),
    ("wal_commit_ms", "stream.wal_commit_s", 1e-3),
    ("commit_offsets_ms", "stream.commit_offsets_s", 1e-3),
    ("state_rows", "stream.state_rows", 1), ("state_mem_bytes", "stream.state_mem_mb", MB),
    ("state_commit_ms", "stream.state_commit_s", 1e-3),
]


def per_layer(result, spec):
    """Each per-layer metric `spec` names (BENCHMARK.json's `per_layer`
    list): its median over the run's traced passes, except two figures of
    the whole run: the tracing overhead (traced against untraced typical
    pass time) and the JVM's peak resident size."""
    traced = passes(result["samples"], "traced")
    per = [layer_pass(p, result["jobs"], result["progress"]) for p in traced]
    run = {
        "trace.overhead_frac": pass_seconds(result["samples"], "traced")
                               / pass_seconds(result["samples"], "timed") - 1.0,
        "memory.rss_peak_mb": result["rss_peak_mb"],
    }
    return {m["name"]: (run[m["name"]] if m["name"] in run else
                        statistics.median([p[m["name"]] for p in per]), m["unit"])
            for m in spec}

"""Pure helpers of the benchmark harness: statistics, the crawl `log`
boundary phase parser, order-independent digests, error accounting, the
oracle compare, and the span tree's per-layer self time. No I/O beyond
what a caller passes in, so each piece is unit-tested on its own."""
import hashlib
import math
import re
import statistics

# --- statistics -------------------------------------------------------------


def median(values):
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values."""
    values = list(values)
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p):
    """Linear-interpolated percentile, `p` in [0, 100]."""
    values = sorted(values)
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= p <= 100:
        raise ValueError("p must be in [0, 100]")
    pos = (len(values) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


# --- crawl phases from the engine's `log` boundaries ----------------------

PHASES = ("prep", "select", "fetch_extract", "frontier", "sink", "commit")

# boundary line -> the phase that ENDS at it. The interval sink barrier ->
# frontier-write -> commit line is the snapshot commit; the time after the
# last boundary (final drain and cleanup) is counted as commit too, so the
# phases sum to the run's wall time.
_BOUNDARIES = (
    (re.compile(r"^prep done\b"), "prep"),
    (re.compile(r"^wave=(\d+) politeness-select done\b"), "select"),
    (re.compile(r"^wave=(\d+) fetch\+extract done\b"), "fetch_extract"),
    (re.compile(r"^wave=(\d+) frontier-checkpoint done\b"), "frontier"),
    (re.compile(r"^wave=(\d+) sink barrier done\b"), "sink"),
    (re.compile(r"^wave=(\d+) frontier-write done\b"), "commit"),
    (re.compile(r"^wave=(\d+)\s+selected=\d+"), "commit"),
)
_COMMIT_LINE = _BOUNDARIES[-1][0]


def classify(line):
    """Phase that ends at this `log` line, or None for other lines."""
    for pattern, phase in _BOUNDARIES:
        if pattern.match(line):
            return phase
    return None


def crawl_phases(events, wall_s):
    """Splits one `CrawlEngine.run` into phases.

    `events` is [(seconds since the call, log line)] in arrival order.
    Returns {"totals": {phase: s}, "intervals": [(phase, start, end)],
    "commits": [commit line times], "first_commit_s": t or None,
    "waves": [wave durations, commit to commit], "frontier_per_wave": [s]}.
    The totals sum to `wall_s` exactly.
    """
    totals = {p: 0.0 for p in PHASES}
    intervals, commits, frontier = [], [], []
    prev = 0.0
    for t, line in events:
        phase = classify(line)
        if phase is None:
            continue
        totals[phase] += t - prev
        intervals.append((phase, prev, t))
        if phase == "frontier":
            frontier.append(t - prev)
        if _COMMIT_LINE.match(line):
            commits.append(t)
        prev = t
    if wall_s < prev:
        raise ValueError("wall time ends before the last log boundary")
    totals["commit"] += wall_s - prev
    intervals.append(("commit", prev, wall_s))
    waves = [b - a for a, b in zip([0.0] + commits, commits)]
    return {"totals": totals, "intervals": intervals, "commits": commits,
            "first_commit_s": commits[0] if commits else None,
            "waves": waves, "frontier_per_wave": frontier}


def phase_of(intervals, t):
    """Phase whose interval holds time t (intervals from crawl_phases)."""
    for phase, start, end in intervals:
        if start <= t <= end:
            return phase
    return None


# --- digests ----------------------------------------------------------------


def multiset_digest(lines):
    """Order-independent digest of a multiset of text rows: the row count
    and the sum mod 2^128 of each row's truncated sha256."""
    acc, n = 0, 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:16], "big")) % (1 << 128)
        n += 1
    return f"{n}:{acc:032x}"


def file_digest(path):
    with open(path, encoding="utf-8") as f:
        return multiset_digest(line.rstrip("\n") for line in f if line.strip())


# --- error accounting -------------------------------------------------------


class Ledger:
    """Attempted and failed operations of one run. An operation is a crawled
    page, a mega-wave page or a query leaf; `error_rate` = failed / attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def add(self, attempted, failed, note=None):
        if attempted < 0 or failed < 0 or failed > attempted:
            raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
        self.attempted += attempted
        self.failed += failed
        if note:
            self.notes.append(note)

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self):
        return self.attempted > 0 and self.failed == 0 and not self.notes


def crawl_pass_failures(result, expected, digests=None):
    """(attempted, failed, notes) for one crawl pass. Pages are the selected
    ones (the engine's `fetched` count), the corpus's designed 404s included:
    they are expected outcomes. A thrown error, or a count or digest
    mismatch, fails every page of the pass; otherwise each parity failure
    fails one page."""
    attempted = expected["fetched"]
    if "error" in result:
        return attempted, attempted, [f"crawl raised {result['error']}"]
    notes = [f"{k}={result.get(k)} expected {v}" for k, v in sorted(expected.items())
             if k in ("waves", "fetched", "errors") and result.get(k) != v]
    for k, v in sorted((digests or {}).items()):
        if v != expected.get(k):
            notes.append(f"{k}={v} expected {expected.get(k)}")
    if notes:
        return attempted, attempted, notes
    parity = int(result.get("parity_failures", 0))
    return attempted, min(parity, attempted), [f"{parity} parity failures"] if parity else []


# --- oracle compare (the compare scripts/check_oracle.py makes) -------------


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_mismatch(actual, expected):
    """None when the frames hold the same rows (compared as strings after
    sorting), else a one-line reason."""
    expected, actual = canon(expected), canon(actual)
    if list(expected.columns) != list(actual.columns):
        return f"columns {list(actual.columns)} vs oracle {list(expected.columns)}"
    if len(expected) != len(actual):
        return f"rows {len(actual)} vs oracle {len(expected)}"
    es = expected.astype(str).reset_index(drop=True)
    as_ = actual.astype(str).reset_index(drop=True)
    if not es.equals(as_):
        return f"{int((es != as_).any(axis=1).sum())} differing rows"
    return None


# --- span tree --------------------------------------------------------------

# span name prefix -> layer; crawl phase spans map through PHASE_LAYER
PHASE_LAYER = {"prep": "crawl", "select": "politeness", "fetch_extract": "extract",
               "frontier": "frontier", "sink": "sinks", "commit": "state"}
LAYERS = ("crawl", "frontier", "politeness", "extract", "state", "sinks", "pipeline")


def layer_of(name):
    if name.startswith("crawl.phase."):
        return PHASE_LAYER.get(name[len("crawl."):].split(".")[1])
    if name == "crawl.run":
        return "crawl"
    if name.startswith("pipeline."):
        return "pipeline"
    return None


def self_times(spans, root_id):
    """Per-layer self time in the subtree under `root_id`: each span's
    duration minus its children's, Spark job/stage spans excluded (they
    overlap and are attributes of the benchmark's own spans, not exclusive
    time)."""
    own = [s for s in spans if not s["name"].startswith("spark.")]
    children = {}
    for s in own:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    stack = list(children.get(root_id, []))
    while stack:
        s = stack.pop()
        kids = children.get(s["id"], [])
        own = (s["end_s"] - s["start_s"]) - sum(k["end_s"] - k["start_s"] for k in kids)
        layer = layer_of(s["name"])
        if layer:
            out[layer] += max(own, 0.0)
        stack.extend(kids)
    return out


def innermost(spans, t):
    """Id of the innermost benchmark span (not a Spark one) holding time t, or -1."""
    best = None
    for s in spans:
        if s["name"].startswith("spark.") or not s["start_s"] <= t <= s["end_s"]:
            continue
        if best is None or s["start_s"] >= best["start_s"]:
            best = s
    return best["id"] if best else -1

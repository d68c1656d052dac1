"""Seeded generator of Ranger-shaped audit JSON for the pipeline benchmark.

Everything the program under test reads comes from here, and only as files:
newline-delimited Ranger audit records under ``YYYYMMDD/`` day directories.
The same seed gives byte-identical trees (numpy's seeded ``Generator`` drives
every choice, and nothing reads the clock). Every file is published
atomically: it is written under a hidden temporary name (Spark's file
sources skip names starting with ``.``) and then renamed into place, so a
reader never sees a partial file.

Generation model (the knobs of each workload are in ``run.py``'s ``WORKLOADS``):

* Sessions start uniformly over the event-time span. The user of each
  session is drawn from a Zipf law over ``users`` ids (exponent ``zipf``),
  so heavy users have many sessions that overlap and merge.
* A session holds 1 + Poisson(``events_per_session`` - 1) events whose
  successive gaps are uniform in [1 s, 0.9 gap), so the generated events
  of one session always merge; overlapping sessions of one user merge too.
* A share ``ooo_share`` of events arrives late by up to ``max_delay_ms``
  (always less than the watermark delay the pipeline runs with); the rest
  arrive at their event time. Arrival time decides the file.
* A share ``malformed_share`` of lines are malformed (truncated before the
  ``reqUser`` key, or not JSON at all), scattered through the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

DAY_MS = 86_400_000
# 2026-01-01T00:00:00Z: the start of every generated event-time span
BASE_MS = 1_767_225_600_000

# (repoType, repo, agent, resType, accesses)
REPOS = [
    (1, "cm_hdfs", "hdfs", "path", ("read", "write", "execute")),
    (3, "cm_hive", "hive", "table", ("select", "update", "create")),
    (9, "cm_kafka", "kafka", "topic", ("publish", "consume", "describe")),
]

LINE = (
    '{"repoType":%d,"repo":"%s","reqUser":"%s","evtTime":"%s",'
    '"access":"%s","resource":"%s","resType":"%s","action":"%s",'
    '"result":%d,"agent":"%s","policy":%d,"enforcer":"ranger-acl",'
    '"cliIP":"10.%d.%d.%d","agentHost":"%s-%d.example.com",'
    '"logType":"RangerAudit","id":"%016x-%d","seq_num":%d,'
    '"event_count":%d,"event_dur_ms":%d,"tags":[],'
    '"cluster_name":"cl1","policy_version":%d}'
)

FLUSH_USER = "zz_flush"


@dataclass(frozen=True)
class Params:
    """Generator knobs for one tree."""

    users: int
    zipf: float
    sessions: int
    events_per_session: float
    gap_ms: int
    deny_share: float
    ooo_share: float
    max_delay_ms: int
    malformed_share: float
    span_ms: int  # arrival-time span of the whole tree
    file_ms: int  # arrival-time span of one file
    start_ms: int = BASE_MS


@dataclass
class Tree:
    """A generated tree: file contents plus the ground truth behind them."""

    files: list  # [(relpath, bytes)] in publication order
    user: np.ndarray  # per event: user name index
    evt_ms: np.ndarray
    denied_weight: np.ndarray  # event_count if denied else 0
    file_of: np.ndarray  # per event: index into files
    malformed: list  # [(file index, line)]
    file_max_evt: list  # per file, -1 if it holds no event


def day_name(ms: int) -> str:
    return str(np.datetime64(ms, "ms").astype("datetime64[D]")).replace("-", "")


def _events(rng: np.random.Generator, p: Params):
    span = p.span_ms
    weights = np.arange(1, p.users + 1, dtype=np.float64) ** -p.zipf
    heavy_first = rng.choice(p.users, size=p.sessions, p=weights / weights.sum())
    # the heaviest users get scattered ids rather than u000000, u000001, ...
    session_user = rng.permutation(p.users)[heavy_first]
    start = p.start_ms + rng.integers(0, span, p.sessions)
    k = 1 + rng.poisson(p.events_per_session - 1, p.sessions)
    owner = np.repeat(np.arange(p.sessions), k)
    first = np.cumsum(k) - k
    step = rng.integers(1000, int(0.9 * p.gap_ms), owner.size)
    step[first] = 0
    csum = np.cumsum(step)
    evt = start[owner] + csum - np.repeat(csum[first], k)
    n = evt.size
    late = rng.random(n) < p.ooo_share
    arrival = evt + np.where(late, rng.integers(1, p.max_delay_ms + 1, n), 0)
    keep = arrival < p.start_ms + span
    order = np.argsort(arrival[keep], kind="stable")
    return session_user[owner][keep][order], evt[keep][order], arrival[keep][order]


def _malformed(rng: np.random.Generator, good_line: str, i: int) -> str:
    if rng.random() < 0.5:
        cut = good_line.index('"reqUser"')
        return good_line[: int(rng.integers(1, cut))]
    return "<<ranger audit spool %d: buffer overflow, %d records lost>>" % (
        i, int(rng.integers(1, 1000)))


def generate(seed: int, p: Params) -> Tree:
    """Generate one tree; files are named
    ``YYYYMMDD/ranger-audit-HHMMSS.log`` by the arrival time they start at."""
    rng = np.random.default_rng(seed)
    user, evt, arrival = _events(rng, p)
    n = evt.size
    result = (rng.random(n) >= p.deny_share).astype(np.int64)
    count = np.where(rng.random(n) < 0.85, 1, rng.integers(2, 11, n))
    repo = rng.integers(0, len(REPOS), n)
    access = rng.integers(0, 3, n)
    res_id = rng.integers(0, 5000, n)
    ip = rng.integers(0, 256, (n, 3))
    host = rng.integers(1, 9, n)
    policy = rng.integers(1, 200, n)
    ident = rng.integers(0, 2**63, n)
    dur = rng.integers(0, 50, n)
    stamps = np.datetime_as_string(evt.astype("datetime64[ms]"), unit="ms")

    lines = []
    for i, (u, ts, r, c, rp, ac, rs, (a, b, d), h, pol, idn, du) in enumerate(zip(
            user.tolist(), stamps.tolist(), result.tolist(), count.tolist(),
            repo.tolist(), access.tolist(), res_id.tolist(), ip.tolist(),
            host.tolist(), policy.tolist(), ident.tolist(), dur.tolist())):
        rtype, rname, agent, rtyp, accs = REPOS[rp]
        acc = accs[ac]
        lines.append(LINE % (
            rtype, rname, "u%06d" % u, ts.replace("T", " "), acc,
            "%s/res-%04d" % (rname, rs), rtyp, acc, r, agent, pol, a, b, d,
            agent, h, idn, i, i, c, du, pol % 7 + 1))

    file_of = (arrival - p.start_ms) // p.file_ms
    n_files = -(-p.span_ms // p.file_ms)
    bad_count = int(round(p.malformed_share * n))
    bad_at = np.sort(rng.integers(0, n, bad_count))
    malformed = []
    per_file = [[] for _ in range(n_files)]
    b = 0
    for i in range(n):
        while b < bad_count and bad_at[b] == i:
            bad = _malformed(rng, lines[i], b)
            per_file[file_of[i]].append(bad)
            malformed.append((int(file_of[i]), bad))
            b += 1
        per_file[file_of[i]].append(lines[i])

    def path_of(ms):
        return "%s/ranger-audit-%s.log" % (
            day_name(ms), str(np.datetime64(ms, "ms"))[11:19].replace(":", ""))

    files = []
    max_evt = np.full(n_files, -1, dtype=np.int64)
    np.maximum.at(max_evt, file_of, evt)
    for f, body in enumerate(per_file):
        if body:
            files.append((path_of(p.start_ms + f * p.file_ms),
                          ("\n".join(body) + "\n").encode()))
    # re-index onto the non-empty files
    nonempty = np.array([bool(body) for body in per_file])
    remap = np.cumsum(nonempty) - 1
    malformed = [(int(remap[f]), line) for f, line in malformed]
    return Tree(
        files=files, user=user, evt_ms=evt,
        denied_weight=np.where(result != 1, count, 0), file_of=remap[file_of],
        malformed=malformed, file_max_evt=max_evt[nonempty].tolist())


def flush_file(tree: Tree, relpath: str) -> tuple:
    """One allowed (never denied) event a day after the tree's last event:
    it moves the watermark past every session, and its own zero-denies
    session is dropped by the pipeline, so it adds no expected output."""
    t = int(tree.evt_ms.max()) + DAY_MS
    ts = np.datetime_as_string(np.datetime64(t, "ms"), unit="ms").replace("T", " ")
    line = LINE % (1, "cm_hdfs", FLUSH_USER, ts, "read", "cm_hdfs/flush", "path",
                   "read", 1, "hdfs", 1, 0, 0, 1, "hdfs", 1, 0, 0, 0, 1, 0, 1)
    return relpath, (line + "\n").encode(), t


def publish(root: str, relpath: str, data: bytes) -> None:
    """Atomic publication: hidden temporary name, then rename."""
    final = os.path.join(root, relpath)
    d, name = os.path.split(final)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, final)


def write_tree(root: str, tree: Tree) -> None:
    for relpath, data in tree.files:
        publish(root, relpath, data)

"""Reference sessionizer and output check, without Spark.

The expected output is computed from the generator's ground truth (the
events it wrote, per file), never from the program's own parse:

* events of one user merge into a session while the next event time is
  at most the running session end (closed interval: events exactly one
  gap apart merge), and the session end is the last event time + gap;
* ``denies`` sums ``event_count`` over events with ``result != 1``;
* sessions with zero denies are dropped;
* a streaming query emits a session once the watermark (max event time
  seen, minus the delay) has reached its end, so for a streaming run only
  sessions with ``end <= final watermark`` are expected.

The program's output is the reference output format
``user='u' denies=d start=ms end=ms``, read back from the files sink
(parquet, through its ``_spark_metadata`` commit log) with pyarrow.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

ROW = re.compile(r"user='(.*)' denies=(-?\d+) start=(-?\d+) end=(-?\d+)$")


def sessions(user, evt_ms, weight, gap_ms, watermark_ms=None):
    """Sessions as {(user, start_ms): (denies, end_ms)} from event arrays."""
    order = np.lexsort((evt_ms, user))
    u, t, w = user[order].tolist(), evt_ms[order].tolist(), weight[order].tolist()
    out = {}
    i, n = 0, len(t)
    while i < n:
        cu, start, end, denies = u[i], t[i], t[i] + gap_ms, w[i]
        i += 1
        while i < n and u[i] == cu and t[i] <= end:
            end = max(end, t[i] + gap_ms)
            denies += w[i]
            i += 1
        if denies != 0 and (watermark_ms is None or end <= watermark_ms):
            out[("u%06d" % cu, start)] = (denies, end)
    return out


def expected(tree, gap_ms, keep_file=None, watermark_delay_ms=None, extra_max_evt=None):
    """Expected sessions of ``tree`` restricted to files where
    ``keep_file[i]``; with a watermark delay, only the sessions a streaming
    query has emitted once it has seen every kept event (and the extra
    event time, such as a flush record)."""
    sel = np.ones(tree.evt_ms.size, bool) if keep_file is None else keep_file[tree.file_of]
    evt = tree.evt_ms[sel]
    wm = None
    if watermark_delay_ms is not None:
        top = max(int(evt.max()), extra_max_evt or 0)
        wm = top - watermark_delay_ms
    return sessions(tree.user[sel], evt, tree.denied_weight[sel], gap_ms, wm)


def sink_files(out_dir):
    """{parquet path: batch id} from a files sink's commit log. Compacted
    log files hold every earlier batch; a file is attributed to the first
    batch whose log lists it."""
    meta = os.path.join(out_dir, "_spark_metadata")
    logs = []
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        logs.append((int(name.split(".")[0]), os.path.join(meta, name)))
    files = {}
    for batch, path in sorted(logs):
        with open(path) as f:
            assert f.readline().strip() == "v1", path
            for line in f:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    p = entry["path"]
                    p = p[len("file:"):] if p.startswith("file:") else p
                    files.setdefault(p, batch)
    return files


def _row(value, batch):
    m = ROW.match(value)
    if not m:
        return (value, None, None, None, batch)
    return (m.group(1), int(m.group(3)), int(m.group(2)), int(m.group(4)), batch)


def read_sink(out_dir):
    """[(user, start, denies, end, batch id)] committed to a files sink."""
    return [_row(v, batch) for path, batch in sink_files(out_dir).items()
            for v in pq.read_table(path).column(0).to_pylist()]


def read_parquet_dir(out_dir):
    """Rows of a batch parquet write, or None unless the write committed
    (its ``_SUCCESS`` marker exists)."""
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return None
    return [_row(v, 0) for name in sorted(os.listdir(out_dir))
            if name.endswith(".parquet") and not name.startswith((".", "_"))
            for v in pq.read_table(os.path.join(out_dir, name)).column(0).to_pylist()]


def compare(want, rows):
    """Failed sessions: every expected session that is missing, wrong or
    duplicated, plus every output row that matches no expected session."""
    seen = Counter((u, s) for u, s, *_ in rows)
    got = {(u, s): (d, e) for u, s, d, e, _ in rows}
    failed = sum(1 for k, v in want.items() if seen[k] != 1 or got[k] != v)
    failed += sum(c for k, c in seen.items() if k not in want)
    return failed

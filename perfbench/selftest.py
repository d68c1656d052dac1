#!/usr/bin/env python3
"""Checks of the benchmark's own parts; no Spark, no build.

    python3 perfbench/selftest.py

* The generator is deterministic: one seed gives byte-identical trees, and
  another seed gives a different tree.
* Publication is atomic: a reader scanning the directory while files are
  published never sees a visible file that is not complete.
* The reference sessionizer follows the pinned semantics (closed-interval
  gap merge, ``result != 1`` denies weighted by ``event_count``,
  zero-denies sessions dropped, watermark emission), and the output check
  counts a corrupted, duplicated, missing or extra session as failed.
"""

import os
import shutil
import sys
import threading

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def check_deterministic(tmp):
    params = gen.Params(**dict(run.PRUNED, span_ms=20 * gen.DAY_MS, sessions=800))
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_tree(os.path.join(tmp, name), gen.generate(seed, params))
    a, b, c = (tree_bytes(os.path.join(tmp, n)) for n in "abc")
    assert a == b, "same seed, different trees"
    assert a != c, "different seeds, same tree"
    assert all(not k.split("/")[-1].startswith(".") for k in a), "temporary file left behind"
    print("generator: same seed gives byte-identical trees (%d files, %d bytes)"
          % (len(a), sum(map(len, a.values()))))


def check_atomic(tmp):
    root = os.path.join(tmp, "pub")
    tree = gen.generate(3, gen.Params(**dict(run.STREAM, span_ms=40 * 60_000, sessions=4000)))
    want = dict(tree.files)
    seen, bad = set(), []
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            for d, _, files in os.walk(root):
                for f in files:
                    if f.startswith("."):
                        continue
                    rel = os.path.relpath(os.path.join(d, f), root)
                    with open(os.path.join(d, f), "rb") as fh:
                        if fh.read() != want[rel]:
                            bad.append(rel)
                    seen.add(rel)

    t = threading.Thread(target=watch)
    t.start()
    gen.write_tree(root, tree)
    stop.set()
    t.join()
    assert not bad, "partial files seen: %s" % bad[:3]
    print("publication: a concurrent reader saw %d of %d files, none partial"
          % (len(seen), len(want)))


def check_reference():
    gap = 1_200_000
    # (user, time, denied weight): the reference scenario of SessionizeSpec
    # plus the gap boundary and a zero-denies session
    ev = [(1, 0, 10), (1, 600_000, 0),                 # one session, 10 denies
          (2, 600_000, 1), (2, 1_200_000, 1),          # merged (600 s apart)
          (3, 0, 1), (3, gap, 1),                       # exactly one gap apart: merged
          (4, 0, 1), (4, gap + 1, 1),                   # one ms more: split
          (5, 0, 0), (5, 10, 0)]                        # no denies: dropped
    user, t, w = (np.array(x, dtype=np.int64) for x in zip(*ev))
    got = reference.sessions(user, t, w, gap)
    assert got == {
        ("u000001", 0): (10, 600_000 + gap),
        ("u000002", 600_000): (2, 1_200_000 + gap),
        ("u000003", 0): (2, 2 * gap),
        ("u000004", 0): (1, gap),
        ("u000004", gap + 1): (1, 2 * gap + 1),
    }, got
    # a streaming query emits only sessions whose end the watermark reached
    assert set(reference.sessions(user, t, w, gap, watermark_ms=gap)) == {("u000004", 0)}

    rows = [(u, s, d, e, 0) for (u, s), (d, e) in got.items()]
    assert reference.compare(got, rows) == 0
    corrupt = [r if i else (r[0], r[1], r[2] + 1, r[3], r[4]) for i, r in enumerate(rows)]
    assert reference.compare(got, corrupt) == 1, "a wrong count must fail"
    assert reference.compare(got, rows + rows[:1]) == 1, "a duplicate must fail"
    assert reference.compare(got, rows[1:]) == 1, "a missing session must fail"
    assert reference.compare(got, rows + [("u000009", 5, 1, 9, 0)]) == 1, "an extra row must fail"
    print("reference: pinned semantics hold; corrupted, duplicated, missing and extra sessions fail")


def main():
    tmp = os.path.join(run.HERE, "work", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        check_deterministic(tmp)
        check_atomic(tmp)
        check_reference()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()

"""Seeded, single-process input generator for the benchmark workloads.

Every workload's inputs are a pure function of ``(workload, seed, SIZES)``.
The generator also writes the planted ground truth next to the data:
good/bad line counts, the expected schema of every table, and the drift
points of the stream.

Expected schemas come from the generator's own *spec*, never from the
engine. A spec node is one of

* ``("s",)``             a JSON scalar (string, number, bool)
* ``("o", [(k, node)])`` an object with those keys
* ``("a", node)``        an array of ``node``
* ``("c", x, y)``        a conflict: a value is either ``x`` or ``y``, and
                         ``x``/``y`` are of different kinds

and the expected lattice type follows from the node alone (``expected``):
scalars and conflicts are STRING, objects keep their keys, arrays their
element. That holds only if every key and both sides of every conflict
appear somewhere in the table's lines, so each table gets two *coverage
records* (every key present, every array non-empty, conflicts all on side
0 in one record and side 1 in the other) at seeded positions.

Shapes use the raw lattice form of ``plans.lattice``: ``"s"`` for STRING,
``[elem]`` for ARRAY, ``{name: shape}`` for STRUCT.

Generation is kept fast (it runs once per seed and is cached): values are
drawn from small pre-serialized pools per key, and records are assembled
by string concatenation.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

# Bump when the generated bytes change for a given seed; it names the cache.
GEN_VERSION = 8

SIZES = {
    "ndjson_wide_batch": {"records": 6000, "keys": 200, "keys_per_record": 40,
                          "bad_frac": 0.02, "pool": 48},
    "ndjson_drift_stream": {"files": 8, "records_per_file": 2000, "keys": 24,
                            "keys_per_record": 14, "drift_every": 4,
                            "bad_frac": 0.01, "pool": 24},
}

# set-up's warm-up op runs the same code on a small input of the same shape
WARMUP = {
    "ndjson_wide_batch": {"records": 400},
    "ndjson_drift_stream": {"files": 2, "records_per_file": 100},
}


# --------------------------------------------------------------------------
# spec → expected shape
# --------------------------------------------------------------------------

def expected(node):
    """The lattice shape a fully covered ``node`` folds to."""
    kind = node[0]
    if kind == "o":
        return {k: expected(v) for k, v in node[1]}
    if kind == "a":
        return [expected(node[1])]
    return "s"  # scalar, or a conflict of two different kinds


def canonical(shape):
    """Order-insensitive form of a raw shape: object keys sorted."""
    if isinstance(shape, dict):
        return {k: canonical(shape[k]) for k in sorted(shape)}
    if isinstance(shape, list):
        return [canonical(shape[0])]
    return shape


# --------------------------------------------------------------------------
# random specs and values
# --------------------------------------------------------------------------

def _rand_spec(rng: random.Random, depth: int, max_depth: int, width: int):
    """A random node; containers nest at most ``max_depth`` levels."""
    r = rng.random()
    if depth >= max_depth or r < 0.55:
        return ("s",)
    if r < 0.75:
        n = rng.randint(2, width)
        return ("o", [(f"f{i}", _rand_spec(rng, depth + 1, max_depth, width))
                      for i in range(n)])
    if r < 0.88:
        return ("a", _rand_spec(rng, depth + 1, max_depth, width))
    other = (("o", [(f"f{i}", _rand_spec(rng, depth + 1, max_depth, width))
                    for i in range(rng.randint(1, width))])
             if rng.random() < 0.5
             else ("a", _rand_spec(rng, depth + 1, max_depth, width)))
    return ("c", ("s",), other)


_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november")


def _scalar(rng: random.Random):
    r = rng.random()
    if r < 0.4:
        return rng.choice(_WORDS) + str(rng.randint(0, 9999))
    if r < 0.7:
        return rng.randint(-10**6, 10**6)
    if r < 0.85:
        return round(rng.uniform(-1000, 1000), 3)
    return rng.random() < 0.5


def _value(node, rng: random.Random, side: int | None):
    """One value of ``node``. ``side`` None draws freely (keys may be
    missing, arrays empty, scalars null); 0/1 is coverage mode: every key
    present, arrays of one element, conflicts on that side."""
    kind = node[0]
    if kind == "s":
        if side is None and rng.random() < 0.03:
            return None
        return _scalar(rng)
    if kind == "o":
        if side is None:
            return {k: _value(v, rng, None) for k, v in node[1]
                    if rng.random() < 0.75}
        return {k: _value(v, rng, side) for k, v in node[1]}
    if kind == "a":
        n = rng.randint(0, 3) if side is None else 1
        return [_value(node[1], rng, side) for _ in range(n)]
    pick = (rng.random() < 0.5) if side is None else side
    return _value(node[2] if pick else node[1], rng, side)


def _pools(spec_items, rng: random.Random, size: int) -> dict:
    """Pre-serialized ``"key":value`` fragments per key."""
    return {
        k: [f"{json.dumps(k)}:{json.dumps(_value(node, rng, None))}"
            for _ in range(size)]
        for k, node in spec_items
    }


def _coverage_line(spec_items, rng: random.Random, side: int) -> str:
    return json.dumps({k: _value(node, rng, side) for k, node in spec_items})


def _bad_line(rng: random.Random, good_line: str) -> str:
    """A line the routing must reject: a strict prefix of a JSON object
    (never valid JSON) or free text that does not start with ``{``/``[``."""
    if rng.random() < 0.7 and len(good_line) > 2:
        return good_line[: rng.randint(1, len(good_line) - 2)]
    return f"#corrupt record {rng.getrandbits(48):x} upstream timeout"


def _mix(rng, good: list[str], bad_frac: float) -> tuple[list[str], int]:
    """Insert ``bad_frac`` bad lines at seeded positions."""
    n_bad = int(round(len(good) * bad_frac))
    bad = [_bad_line(rng, rng.choice(good)) for _ in range(n_bad)]
    lines = good + bad
    rng.shuffle(lines)
    return lines, n_bad


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _record_lines(rng, spec_items, pools, n, per_record) -> list[str]:
    keys = [k for k, _ in spec_items]
    out = []
    for _ in range(n):
        chosen = rng.sample(keys, min(per_record, len(keys)))
        out.append("{" + ",".join(
            pools[k][rng.randrange(len(pools[k]))] for k in chosen) + "}")
    return out


def _insert_coverage(rng, lines: list[str], coverage: list[str]) -> None:
    for line in coverage:
        lines.insert(rng.randrange(len(lines) + 1), line)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def _shapes(name: str, n: int, max_depth: int, width: int) -> list:
    """``n`` spec nodes drawn from a fixed stream. The run's seed only
    assigns them to key names, so every seed's input needs the same work
    per op while its keys, records, values and bad lines differ."""
    shape_rng = random.Random(f"shapes:{name}")
    return [_rand_spec(shape_rng, 1, max_depth, width) for _ in range(n)]


def gen_wide(rng: random.Random, out: str, s: dict) -> dict:
    # both planted conflict kinds at the top level, beside the fixed stream
    nodes = [("c", ("s",), ("o", [("f0", ("s",)), ("f1", ("a", ("s",)))])),
             ("c", ("s",), ("a", ("o", [("f0", ("s",))])))]
    nodes += _shapes("wide", s["keys"] - 2, 3, 6)
    rng.shuffle(nodes)
    spec = [(f"k{i:03d}", node) for i, node in enumerate(nodes)]
    pools = _pools(spec, rng, s["pool"])
    good = _record_lines(rng, spec, pools, s["records"] - 2, s["keys_per_record"])
    _insert_coverage(rng, good, [_coverage_line(spec, rng, 0),
                                 _coverage_line(spec, rng, 1)])
    lines, n_bad = _mix(rng, good, s["bad_frac"])
    path = os.path.join(out, "wide.ndjson")
    _write_lines(path, lines)
    return {
        "path": "wide.ndjson",
        "lines": len(lines),
        "good": len(good),
        "bad": n_bad,
        "schema": canonical(expected(("o", spec))),
    }


def gen_drift(rng: random.Random, out: str, s: dict) -> dict:
    """Versions of one table spec: every ``drift_every`` files the spec
    gains two top-level keys, one existing object key gains a sub-key
    (a type change: one CHANGE COLUMN), and one scalar key becomes an
    object (scalar→struct; the lattice keeps STRING, so no DDL change).

    Emission of version v uses the newest side of every widened key;
    the expected *accumulated* schema is the join over versions, which is
    ``expected`` of the cumulative spec where a widened scalar is a
    conflict."""
    nodes = _shapes("drift", s["keys"] - 4, 2, 4)
    rng.shuffle(nodes)
    # k000-k003: the struct keys the drift steps widen
    spec = {f"k{i:03d}": ("o", [("f0", ("s",)), ("f1", ("s",))]) for i in range(4)}
    spec.update((f"k{i + 4:03d}", node) for i, node in enumerate(nodes))
    next_key = s["keys"]
    cumulative = dict(spec)
    emit = dict(spec)
    n_files = s["files"]
    versions = []
    alters = []
    stream_dir = os.path.join(out, "stream")
    os.makedirs(stream_dir)
    lines_total = good_total = bad_total = 0
    mtime0 = 1_600_000_000
    widen_i = 0
    for f in range(n_files):
        if f % s["drift_every"] == 0 and f > 0:
            # only keys older than this step may widen: a key added and
            # widened in one step would never be seen as a scalar
            scalars = sorted(k for k, v in emit.items()
                             if v == ("s",) and cumulative[k] == ("s",))
            # two new top-level keys → one ADD COLUMNS
            for node in _shapes(f"drift{f}", 2, 2, 4):
                k = f"k{next_key:03d}"
                next_key += 1
                cumulative[k] = emit[k] = node
            # object key gains a sub-key → one CHANGE COLUMN
            wk = f"k{widen_i % 4:03d}"
            widen_i += 1
            fields = emit[wk][1] + [(f"f{len(emit[wk][1])}", ("s",))]
            cumulative[wk] = emit[wk] = ("o", fields)
            # scalar → object: STRING absorbs it, no DDL change
            if scalars:
                sk = rng.choice(scalars)
                obj = ("o", [("g0", ("s",)), ("g1", ("s",))])
                cumulative[sk] = ("c", ("s",), obj)
                emit[sk] = obj
            alters.append(2)
        if f % s["drift_every"] == 0:
            versions.append(f)
        items = sorted(emit.items())
        pools = _pools(items, rng, s["pool"])
        good = _record_lines(rng, items, pools, s["records_per_file"] - 2,
                             s["keys_per_record"])
        # coverage of this version's emission, both sides of its conflicts
        _insert_coverage(rng, good, [_coverage_line(items, rng, 0),
                                     _coverage_line(items, rng, 1)])
        lines, n_bad = _mix(rng, good, s["bad_frac"])
        path = os.path.join(stream_dir, f"part-{f:05d}.ndjson")
        _write_lines(path, lines)
        # the file source orders a backlog by modification time
        os.utime(path, (mtime0 + f, mtime0 + f))
        lines_total += len(lines)
        good_total += len(good)
        bad_total += n_bad
    return {
        "dir": "stream",
        "files": n_files,
        "lines": lines_total,
        "good": good_total,
        "bad": bad_total,
        "drift_files": versions,
        "drift_events": len(versions),
        "alter_statements": sum(alters),
        "schema": canonical(expected(("o", sorted(cumulative.items())))),
    }


GENERATORS = {
    "ndjson_wide_batch": gen_wide,
    "ndjson_drift_stream": gen_drift,
}


CACHED_PER_WORKLOAD = 6  # input sets kept per workload (main + warm-up)


def _evict(cache_root: str, workload: str, keep: str) -> None:
    """Drop the oldest cached input sets of ``workload`` beyond the limit."""
    mine = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-s")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for old in [d for d in mine if d != keep][CACHED_PER_WORKLOAD - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def generate(workload: str, seed: int, cache_root: str, *, warmup: bool = False):
    """Return ``(data_dir, truth, seconds)``; reuse the cached copy of
    this ``(workload, seed, GEN_VERSION)`` when one is complete."""
    tag = "warmup" if warmup else "main"
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}-{tag}")
    truth_path = os.path.join(out, "truth.json")
    t0 = time.perf_counter()
    if os.path.exists(truth_path):
        with open(truth_path, encoding="utf-8") as f:
            return out, json.load(f), time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _evict(cache_root, workload, out)
    sizes = dict(SIZES[workload], **(WARMUP[workload] if warmup else {}))
    # str seeds hash deterministically (random.seed uses sha512 for str)
    rng = random.Random(f"{workload}:{seed}:{tag}")
    truth = GENERATORS[workload](rng, out, sizes)
    truth["workload"] = workload
    truth["seed"] = seed
    tmp = truth_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(truth, f)
    os.replace(tmp, truth_path)  # written last: marks the cache complete
    return out, truth, time.perf_counter() - t0

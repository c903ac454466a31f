"""Seeded benchmark inputs, made by the repository's own fixture
generator `tools/gen_sf.py` (imported, not copied).

`gen_sf.py` seeds every table's generator with a fixed constant
(`np.random.default_rng(4201)` ... `(4208)`). Here the benchmark seed
is mixed into each of those: table k draws from
`default_rng([4200 + k, seed])`, so one seed gives one input set and a
different seed gives different rows with the same marginals and sizes.
Every set passes `gen_sf.check_schemas` against the reference schemas
in `perfbench/schema/` (empty tables with the sf0.01 reference
fixture's arrow schema) before it is used.

Sets are cached per (scale, seed) under `.perfbench-work/data/`, which
is ignored by git; making one is never timed. Usage, to make a set by
hand:

    python3 perfbench/gen.py <scale> <seed>
"""
import contextlib
import os
import shutil
import sys

import numpy as np

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCHEMA_DIR = os.path.join(HERE, "schema")
DATA_DIR = os.path.join(ROOT, ".perfbench-work", "data")
KEEP_PER_SCALE = 12


def _gen_sf():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_sf
    return gen_sf


@contextlib.contextmanager
def _seeded(seed):
    """`numpy.random.default_rng(k)` draws from `default_rng([k, seed])`."""
    fixed = np.random.default_rng
    np.random.default_rng = lambda k: fixed([k, seed])
    try:
        yield
    finally:
        np.random.default_rng = fixed


def _evict(scale):
    """Keep the most recently used sets of one scale."""
    prefix = f"sf{scale}-seed"
    sets = [os.path.join(DATA_DIR, d) for d in os.listdir(DATA_DIR)
            if d.startswith(prefix) and not d.endswith(".tmp")]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_PER_SCALE:]:
        shutil.rmtree(old, ignore_errors=True)


def make(scale, seed):
    """Directory of the input set for (scale, seed), made if absent."""
    out = os.path.join(DATA_DIR, f"sf{scale}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    gen = _gen_sf()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with _seeded(seed), contextlib.redirect_stdout(sys.stderr):
        gen.main(scale, tmp)
    problems = gen.check_schemas(tmp, ref_dir=SCHEMA_DIR)
    if problems:
        raise RuntimeError("schema drift in generated inputs:\n  " + "\n  ".join(problems))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    _evict(scale)
    return out


if __name__ == "__main__":
    print(make(float(sys.argv[1]), int(sys.argv[2])))

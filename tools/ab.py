"""Same-session interleaved A/B of registry queries under variant specs.

Any claim finer than the bench's ±10% needs this protocol (README): one
session; every variant warmed once; variants alternate rep by rep, with a
different variant first on each rep; each run timed with bench.py's action
(``timed``) and followed by ``clearCache()``; ``(rows, checksum)`` must match
across variants, or the run exits 1; every conf, env var and attribute is
restored in a ``finally``.

Variant specs: ``conf:KEY=VAL`` (a session conf), ``env:KEY=VAL`` (an
environment variable), ``patch:module.attr=identity|LITERAL`` (rebinds
``module.attr`` and every cyrela_etl_spark.* module global of that name bound
to the same object; ``identity`` returns its first argument) and a bare NAME
(the shipped code).

Usage:
  SPARK_GRAFT_SF_DIR=<sf dir> python tools/ab.py QUERY[,QUERY...] \\
      VARIANT VARIANT [...] [--reps N]
Prints one JSON object: per query, whether the results were identical and,
per variant, the median, quartiles, samples and per-pair wins (reps in
which it was strictly faster than each other variant).
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import importlib
import json
import os
import statistics
import sys
import time
from typing import Any, Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

_MISSING = object()


class Variant(NamedTuple):
    label: str
    kind: str  # "conf" | "env" | "patch" | "shipped"
    key: str = ""
    value: Any = None


def parse_spec(spec: str) -> Variant:
    """``conf:K=V``, ``env:K=V``, ``patch:mod.attr=identity|<literal>`` or a
    bare name; anything else raises ``ValueError``."""
    kind, sep, rest = spec.partition(":")
    key, eq, raw = rest.partition("=")
    if not sep and spec and "=" not in spec and not spec.isspace():
        return Variant(spec, "shipped")
    if kind not in ("conf", "env", "patch") or not (eq and key) or (kind == "patch" and "." not in key):
        raise ValueError(f"malformed variant spec {spec!r}")
    if kind != "patch":
        return Variant(spec, kind, key, raw)
    if raw == "identity":
        return Variant(spec, kind, key, lambda x, *_args, **_kwargs: x)
    try:
        return Variant(spec, kind, key, ast.literal_eval(raw))
    except (ValueError, SyntaxError) as e:
        raise ValueError(f"patch value is neither identity nor a literal: {spec!r}") from e


def _patch_sites(key: str) -> list:
    module, attr = key.rsplit(".", 1)
    home = importlib.import_module(module)
    target = getattr(home, attr)
    sites = [home]
    for name, m in list(sys.modules.items()):
        if name.split(".")[0] == "cyrela_etl_spark" and m is not home and vars(m).get(attr, _MISSING) is target:
            sites.append(m)
    return sites


@contextlib.contextmanager
def applied(variant: Variant, spark=None):
    """Apply one variant for the body; undo it in ``finally``."""
    kind, key, value = variant.kind, variant.key, variant.value
    if kind == "conf":
        old = spark.conf.get(key, None)
        spark.conf.set(key, value)
        undo = (lambda: spark.conf.unset(key)) if old is None else (lambda: spark.conf.set(key, old))
    elif kind == "env":
        old = os.environ.get(key)
        os.environ[key] = value
        undo = (lambda: os.environ.pop(key, None)) if old is None else (lambda: os.environ.update({key: old}))
    elif kind == "patch":
        attr = key.rsplit(".", 1)[1]
        sites = _patch_sites(key)
        old = getattr(sites[0], attr)
        for m in sites:
            setattr(m, attr, value)

        def undo():
            for m in sites:
                setattr(m, attr, old)
    else:
        undo = lambda: None  # noqa: E731
    try:
        yield
    finally:
        undo()


def checksum(df) -> tuple[int, int | None]:
    """bench.py's action: row count and the sum of a per-row xxhash64 over
    every column, in one job collected to one driver row."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("checksum"),
    ).collect()[0]
    return row["n"], row["checksum"]


def timed(spark, fn: Callable, sf_dir: str) -> tuple[float, tuple]:
    """Wall of building registry query ``fn`` and running ``checksum`` on
    it, then ``clearCache()`` outside the timed region."""
    t0 = time.perf_counter()
    sig = checksum(fn(spark, sf_dir))
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return dt, sig


def summarize(samples: dict[str, list[float]]) -> dict[str, dict]:
    """Per variant: median, quartiles, samples, and per-pair wins (reps in
    which it was strictly faster than the other; ties count for neither)."""
    out = {}
    for label, xs in samples.items():
        q1, q3 = statistics.quantiles(xs, n=4, method="inclusive")[::2] if len(xs) > 1 else (xs[0], xs[0])
        out[label] = {
            "median": round(statistics.median(xs), 3),
            "q1": round(q1, 3),
            "q3": round(q3, 3),
            "samples": [round(x, 3) for x in xs],
            "wins": {o: sum(a < b for a, b in zip(xs, ys)) for o, ys in samples.items() if o != label},
        }
    return out


def run_ab(measure: Callable[[], tuple[float, tuple]], variants: list[Variant], reps: int, spark=None) -> dict:
    """Warm each variant once, then ``reps`` interleaved reps; ``measure``
    returns ``(seconds, (rows, checksum))``."""
    sigs: set = set()
    for v in variants:
        with applied(v, spark):
            sigs.add(measure()[1])
    samples: dict[str, list[float]] = {v.label: [] for v in variants}
    for r in range(reps):
        k = r % len(variants)
        for v in variants[k:] + variants[:k]:
            with applied(v, spark):
                dt, sig = measure()
            samples[v.label].append(dt)
            sigs.add(sig)
            print(f"rep {r + 1}/{reps} {v.label}: {dt:.3f}s rows={sig[0]}", file=sys.stderr)
    return {
        "identical": len(sigs) == 1,
        "results": sorted(([n, ck] for n, ck in sigs), key=str),
        "variants": summarize(samples),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("queries", help="comma-separated registry query names")
    p.add_argument("variants", nargs="+", help="variant specs (see module docstring)")
    p.add_argument("--reps", type=int, default=5)
    a = p.parse_args(argv)
    variants = [parse_spec(s) for s in a.variants]
    if len({v.label for v in variants}) < max(2, len(variants)):
        p.error("give at least two distinct variants")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or p.error("set SPARK_GRAFT_SF_DIR")

    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark

    registry = load_all()
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in a.queries.split(","):
        fn = registry[name][0]
        out[name] = run_ab(lambda: timed(spark, fn, sf_dir), variants, a.reps, spark)
    print(json.dumps(out, indent=1))
    return 0 if all(r["identical"] for r in out.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

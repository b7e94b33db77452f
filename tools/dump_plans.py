"""Dump formatted physical plans.

With no arguments, regenerate PLANS.md: the formatted physical plan of
every headline benchmark query at sf0.1 — the at-a-glance evidence that
each plan has the shape the scale design calls for (broadcasts on
dimension joins, TakeOrderedAndProject for top-k, PushedFilters at the
scan, bounded exchange counts, WholeStageCodegen spans over the hot
expressions).

With ``--round``, write one file per query for a before/after plan
comparison: ``plans/<round>/<query>_<tag>.txt`` for each named query
(default: all headline BENCH_QUERIES). These dumps mask the tokens that
change from run to run of the same code (``mask``): plan ids,
expression ``#id``s, RDD ids, the application id and the scratch-index
snapshot names. Two dumps of unchanged code then ``cmp`` equal.

Usage:
    python tools/dump_plans.py                              # PLANS.md
    python tools/dump_plans.py --round <round> before|after [query ...]

Both read $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


# (pattern, replacement) for each run-dependent token of a formatted plan
_RUN_TOKENS = (
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\blocal-\d+"), "local-N"),
    (re.compile(r"\bbase-v\d+-[0-9a-f]+"), "base-vN-HEX"),
    (
        re.compile(
            r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"
        ),
        "UUID",
    ),
)


def mask(plan: str) -> str:
    """``plan`` with every run-dependent token replaced by a fixed one."""
    for pattern, repl in _RUN_TOKENS:
        plan = pattern.sub(repl, plan)
    return plan


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> None:
    from bench import BENCH_QUERIES
    from datafusion_loki_spark.session import get_spark

    import __spark_entry__ as entrymod

    args = sys.argv[1:]
    rnd = None
    if args[:1] == ["--round"]:
        if len(args) < 3 or args[2] not in ("before", "after"):
            raise SystemExit(__doc__)
        rnd, tag, names = args[1], args[2], args[3:]
    elif args:
        raise SystemExit(__doc__)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"dump_plans_{rnd}_{tag}" if rnd else "dump_plans")
    queries = entrymod.queries()

    if rnd:
        out_dir = os.path.join(ROOT, "plans", rnd)
        os.makedirs(out_dir, exist_ok=True)
        for name in names or BENCH_QUERIES:
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(mask(_formatted(queries[name](spark, sf_dir))) + "\n")
            print("wrote", path)
        spark.stop()
        return

    out = [
        "# PLANS — headline-query physical plans",
        "",
        f"Auto-generated by `tools/dump_plans.py` at `{sf_dir}`; regenerate",
        "after changing any operator. Gates over these properties live in",
        "`tests/test_plans.py`.",
        "",
    ]
    for name in BENCH_QUERIES:
        out.append(
            f"## {name}\n\n```\n{_formatted(queries[name](spark, sf_dir))}\n```\n"
        )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(BENCH_QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()

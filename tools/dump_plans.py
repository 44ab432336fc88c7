"""Dump `.explain("formatted")` for queries into plans/<round>/ files.

Usage: python tools/dump_plans.py <tag> [query ...]

Writes plans/r10/<query>_<tag>.txt for each query (default: the bench
HEADLINE list). `tag` is e.g. "before" / "after" so the optimization
round's plan claims are checkable without running Spark. An absolute
``SPARK_GRAFT_PLAN_TAG`` directory writes there instead of plans/.

Expression ids (``vec_id#123L``), exchange plan ids (``plan_id=7``),
lambda variable and RDD numbers, and the query-stage and codegen-stage
numbers inside cached passes depend on what a session has run before,
and scratch stores live under fresh temp dirs, so the numbers are
stripped and temp paths read ``<tmp>``: two dumps of one plan are
byte-equal, and a before/after pair differs only where the plans do.
"""

from __future__ import annotations

import io
import contextlib
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_TAG", "r10"))


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?\b", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    # lambda variables and RDDs are numbered session-wide
    plan = re.sub(r"(lambda \w+)_\d+\b", r"\1", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    # in a cached pass's final AQE plan, query stages and codegen
    # stages are numbered in the order they happened to run
    plan = re.sub(r"(QueryStage\nOutput [^\n]*\nArguments: )\d+", r"\1", plan)
    plan = re.sub(r"codegen id : \d+", "codegen id", plan)
    return re.sub(re.escape(tempfile.gettempdir()) + r"/[^\s,\]]+", "<tmp>", plan)


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]

    import __spark_entry__ as e
    import bench
    from flat_file_social_media_database_engine_spark.session import build_session

    spark = build_session("plan-dump")
    qs = e.queries()
    names = only or [n for n in bench.HEADLINE if n in qs]
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = normalize(buf.getvalue())
        except Exception as exc:
            plan = f"ERROR building plan: {exc!r}\n"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {SF_DIR} ({tag})\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

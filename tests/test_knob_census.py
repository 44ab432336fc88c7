"""Census of the package's settable surface and of its dead code: the
environment variables it reads, the configs its session builder sets,
the runtime SQL confs it sets, the defaulted parameters of its
storage-facing public API, the module-level functions and classes
nothing calls, the module-level memo dicts, and the calls that read
data into the driver. Each env knob, session config, runtime tuning
key or option is a place where the benchmarked engine can differ from
the one the correctness gate verifies, an uncalled helper is code
nothing verifies, and a driver read without a bound is a driver that
runs out of memory at scale, so adding one must update this test on
purpose."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "flat_file_social_media_database_engine_spark"
)

EXPECTED = {
    # deployment settings (session.py)
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
}

# Keys of the ``.config(...)`` calls in session.py: beyond Spark's
# defaults, the engine's own session sets only these, so it differs
# from a caller's plain session in nothing else.
EXPECTED_SESSION_CONFIGS = {
    # deployment settings
    "spark.driver.memory",
    "spark.ui.enabled",
    # the reducer count AQE coalesces from: one per core
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    # correctness settings read_table also sets at runtime
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
}

EXPECTED_CONF_SETS = {
    # correctness settings that must hold in any caller's plain session
    # (sources/catalog.py, sources/json_source.py, streaming/events.py)
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    # set once on the stream drains' own child session only
    # (streaming/events.py::_drain_session)
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled",
}


# Defaulted parameters of the public functions and methods of the
# modules below, as "module.[Class.]function.parameter". A write
# persists exactly when a store is attached, maintenance always
# compacts, and loads always dedup and filter RI, so none of those
# takes an option.
PARAM_MODULES = (
    "engine",
    "plans.snapshots",
    "plans.materialize",
    "sources.integrity",
    "sources.csv_source",
    "streaming.ingest",
)

EXPECTED_PARAMS = {
    "engine.Engine.__init__.store_root",
    "engine.Engine.maintain.vacuum_retain",
    "plans.snapshots.SnapshotStore.append.meta",
    "plans.snapshots.SnapshotStore.commit.meta",
    # the committed band index's layout (workloads/dedup.py)
    "plans.snapshots.SnapshotStore.commit.partition_by",
    "plans.snapshots.SnapshotStore.commit.cluster_by",
    # time-travel reads
    "plans.snapshots.SnapshotStore.read.version",
    "plans.snapshots.SnapshotStore.tables.version",
    "plans.snapshots.SnapshotStore.vacuum.retain_last",
    # parity.py and the loader tests pass different keys
    "sources.csv_source.read_csv_strict.dedupe_keys",
    # one progress marker per stream sharing a store
    "streaming.ingest.append_stream.stream_id",
    "streaming.ingest.make_batch_sink.stream_id",
}

# Module-level functions whose only callers are tests, each kept for
# a stated reason.
ORPHANS_ALLOWED = {
    # SCALING.md (prefix-join boundary): the only form of the exact
    # prefix-filter Jaccard join that completes at sf100; its key-space
    # passes bound the transient shuffle disk the single-pass join
    # exhausts there
    "dedup_prefix_jaccard_bounded",
}

ROOT = PKG.parent


def _is_os_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def env_reads(src: str) -> set[str]:
    """Names read through ``os.environ.get``, ``os.environ[...]`` or
    ``os.getenv``. Any other use of ``os.environ``/``os.getenv`` — a
    non-literal key, a bare reference, a ``from os import`` — shows up
    as a marker name, so the census cannot be dodged."""
    tree = ast.parse(src)
    names: set[str] = set()
    matched: set[int] = set()
    for node in ast.walk(tree):
        key = base = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_os_attr(f, "getenv"):
                key, base = node.args[0], f
            elif isinstance(f, ast.Attribute) and f.attr == "get" and _is_os_attr(
                f.value, "environ"
            ):
                key, base = node.args[0], f.value
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            key, base = node.slice, node.value
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if {a.name for a in node.names} & {"environ", "getenv"}:
                names.add("<from os import>")
        if base is not None:
            matched.add(id(base))
            is_literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
            names.add(key.value if is_literal else "<non-literal key>")
    for node in ast.walk(tree):
        if (_is_os_attr(node, "environ") or _is_os_attr(node, "getenv")) and id(
            node
        ) not in matched:
            names.add("<other os.environ use>")
    return names


def conf_sets(src: str) -> set[str]:
    """Keys passed to ``<x>.conf.set(...)``. A non-literal key shows up
    as a marker name, and so does any use of a ``.conf`` attribute
    other than a direct ``.get(...)``/``.set(...)`` call (an alias such
    as ``c = spark.conf``), so the census cannot be dodged."""
    tree = ast.parse(src)
    names: set[str] = set()
    direct: set[int] = set()
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if f.attr in ("get", "set") and isinstance(f.value, ast.Attribute) and (
            f.value.attr == "conf"
        ):
            direct.add(id(f.value))
            if f.attr == "set":
                key = node.args[0] if node.args else None
                is_literal = isinstance(key, ast.Constant) and isinstance(
                    key.value, str
                )
                names.add(key.value if is_literal else "<non-literal key>")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "conf"
            and id(node) not in direct
        ):
            names.add("<other .conf use>")
    return names


def session_configs(src: str) -> set[str]:
    """Keys passed to ``<x>.config(...)`` calls. A non-literal key, or
    a call with no positional key (``.config(conf=...)``, a
    ``.config(map=...)``), shows up as a marker name, so the census
    cannot be dodged."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "config"
        ):
            key = node.args[0] if node.args else None
            is_literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
            names.add(key.value if is_literal else "<non-literal key>")
    return names


def test_session_configs_detects_every_form():
    src = (
        "b = SparkSession.builder.appName('x').master('local[2]')\n"
        "b = b.config('a.b', '1').config('c.d', str(2))\n"
        "b = b.config(key, '3')\n"
        "b = b.config(map={'e.f': '4'})\n"
    )
    assert session_configs(src) == {"a.b", "c.d", "<non-literal key>"}


def test_session_sets_exactly_the_known_configs():
    assert session_configs((PKG / "session.py").read_text()) == (
        EXPECTED_SESSION_CONFIGS
    )


def test_env_reads_detects_every_form():
    src = (
        "import os\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = os.environ.get(name)\n"
        "e = dict(os.environ)\n"
    )
    assert env_reads(src) == {
        "A",
        "B",
        "C",
        "<non-literal key>",
        "<other os.environ use>",
    }


def test_package_reads_exactly_the_known_env_knobs():
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG)))
    assert set(found) == EXPECTED, found


def test_conf_sets_detects_every_form():
    src = (
        "spark.conf.set('a.b', '1')\n"
        "df.sparkSession.conf.set('c.d', 'x')\n"
        "spark.conf.get('e.f')\n"
        "spark.conf.set(key, '2')\n"
        "c = spark.conf\n"
    )
    assert conf_sets(src) == {
        "a.b",
        "c.d",
        "<non-literal key>",
        "<other .conf use>",
    }


def test_package_sets_exactly_the_known_runtime_confs():
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in conf_sets(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG)))
    assert set(found) == EXPECTED_CONF_SETS, found


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _public(name: str) -> bool:
    return not name.startswith("_") or (name.startswith("__") and name.endswith("__"))


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [x.arg for x in pos[len(pos) - len(a.defaults):]] if a.defaults else []
    return out + [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def defaulted_params(src: str, module: str) -> set[str]:
    """Parameters with a default (positional or keyword-only) on the
    module's public functions and on the public methods, ``__init__``
    included, of its public classes. Nested functions are not API."""
    out: set[str] = set()
    for node in ast.parse(src).body:
        if isinstance(node, _FUNCS) and _public(node.name):
            out |= {f"{module}.{node.name}.{p}" for p in _defaulted(node)}
        elif isinstance(node, ast.ClassDef) and _public(node.name):
            for f in node.body:
                if isinstance(f, _FUNCS) and _public(f.name):
                    out |= {
                        f"{module}.{node.name}.{f.name}.{p}" for p in _defaulted(f)
                    }
    return out


def test_defaulted_params_detects_every_form():
    src = (
        "def f(a, b=1, *, c=2, d):\n"
        "    def nested(e=3): pass\n"
        "def _private(x=1): pass\n"
        "class C:\n"
        "    def __init__(self, root=None): pass\n"
        "    def m(self, /, p=0): pass\n"
        "    def _h(self, q=0): pass\n"
        "class _P:\n"
        "    def m(self, r=0): pass\n"
    )
    assert defaulted_params(src, "mod") == {
        "mod.f.b",
        "mod.f.c",
        "mod.C.__init__.root",
        "mod.C.m.p",
    }


def test_storage_api_takes_exactly_the_known_options():
    found: set[str] = set()
    for mod in PARAM_MODULES:
        path = PKG / (mod.replace(".", "/") + ".py")
        found |= defaulted_params(path.read_text(), mod)
    assert found == EXPECTED_PARAMS, (
        sorted(found - EXPECTED_PARAMS),
        sorted(EXPECTED_PARAMS - found),
    )


def _registered_as_query(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def orphans(sources: dict[str, str], package: set[str]) -> set[str]:
    """Module-level functions and classes of the ``package`` files that
    no source references outside their own definition and that are
    not registered with ``@query``. A reference is a load of the name
    or an attribute of that name, matched by name alone, so a
    same-named attribute elsewhere also counts: the census can miss an
    orphan but never flags a used function. An import is not a
    reference, so a package ``__init__.py`` re-export alone leaves a
    function orphaned."""
    defined: dict[str, bool] = {}
    used: set[str] = set()

    def visit(node: ast.AST, owner: str | None, owned: dict) -> None:
        owner = owned.get(id(node), owner)
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id != owner:
                used.add(node.id)
        elif isinstance(node, ast.Attribute) and node.attr != owner:
            used.add(node.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, owner, owned)

    for name, src in sources.items():
        tree = ast.parse(src)
        owned: dict[int, str] = {}
        if name in package:
            for node in tree.body:
                if isinstance(node, (*_FUNCS, ast.ClassDef)):
                    owned[id(node)] = node.name
                    defined[node.name] = defined.get(node.name, False) or (
                        _registered_as_query(node)
                    )
        visit(tree, None, owned)
    return {n for n, registered in defined.items() if not registered and n not in used}


def test_orphans_detects_every_form():
    sources = {
        "pkg/a.py": (
            "def called(): pass\n"
            "def recursive(n): return recursive(n - 1)\n"
            "def uncalled(): called()\n"
            "@query('q')\n"
            "def registered(spark, sf): pass\n"
            "class Used: pass\n"
            "class Unused: pass\n"
            "def exported(): pass\n"
        ),
        "pkg/__init__.py": "from .a import exported\n",
        "tools/t.py": "import pkg.a\npkg.a.Used()\n",
    }
    assert orphans(sources, {"pkg/a.py", "pkg/__init__.py"}) == {
        "recursive",
        "uncalled",
        "Unused",
        "exported",
    }


def test_every_package_definition_has_a_caller():
    package = {str(p.relative_to(ROOT)) for p in PKG.rglob("*.py")}
    callers = [ROOT / "__spark_entry__.py"]
    callers += sorted((ROOT / "tools").rglob("*.py"))
    callers += sorted((ROOT / "perfbench").rglob("*.py"))
    sources = {
        str(p.relative_to(ROOT)): p.read_text()
        for p in [*sorted(PKG.rglob("*.py")), *callers]
    }
    # equality, so an allowed entry that gains a caller (or is
    # deleted) must leave the list too
    assert orphans(sources, package) == ORPHANS_ALLOWED


# Module-level memo dicts named ``*_CACHE``/``*_CACHES``. Every shared
# pass keeps its cache on its ``@shared_pass`` wrapper
# (plans/materialize.py), so such a dict is a hand-rolled copy of that
# protocol. The relayouts keep one cache per table name, and
# perfbench's tracer tells relayout builds apart by identity against
# this dict.
CACHE_DICTS_ALLOWED = {
    "sources/catalog.py::_RELAYOUT_CACHES",
    # a fixture file's inferred schema, keyed on its identity (path,
    # size, mtime_ns): process-wide, because a schema belongs to the
    # file, not to a session
    "sources/catalog.py::_SCHEMA_CACHE",
}


def cache_dicts(src: str) -> set[str]:
    """Names ending in ``_CACHE`` or ``_CACHES`` bound at module level,
    by any assignment form, inside module-level blocks too; bindings in
    function and class bodies are not module state."""
    names: set[str] = set()
    stack = list(ast.parse(src).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (*_FUNCS, ast.ClassDef, ast.Lambda)):
            continue
        if (
            isinstance(node, ast.Name)
            and isinstance(node.ctx, ast.Store)
            and re.search(r"_CACHES?$", node.id)
        ):
            names.add(node.id)
        stack.extend(ast.iter_child_nodes(node))
    return names


def test_cache_dicts_detects_every_form():
    src = (
        "_A_CACHE: dict = {}\n"
        "_B_CACHE = dict()\n"
        "_C_CACHES, other = {}, 1\n"
        "if True:\n"
        "    _D_CACHE = {}\n"
        "def f():\n"
        "    _LOCAL_CACHE = {}\n"
        "class K:\n"
        "    _ATTR_CACHE = {}\n"
        "_CACHE_SIZE = 3\n"
    )
    assert cache_dicts(src) == {"_A_CACHE", "_B_CACHE", "_C_CACHES", "_D_CACHE"}


def test_package_keeps_no_module_level_cache_dicts():
    found = {
        f"{path.relative_to(PKG)}::{name}"
        for path in sorted(PKG.rglob("*.py"))
        for name in cache_dicts(path.read_text())
    }
    assert found == CACHE_DICTS_ALLOWED


# Every call in the package that reads data into the driver, as
# (file, enclosing function, method) -> (number of calls, the bound on
# what it reads). A new collect must name its bound here.
DRIVER_READS_ALLOWED = {
    ("operators/graph.py", "_probe", "collect"): (1, "one row: a count and an xor"),
    ("operators/topk.py", "prune_topk_batches.prune", "head"): (
        1,
        "not a driver read: a pandas groupby head inside mapInPandas",
    ),
    ("plans/snapshots.py", "SnapshotStore.delete_where", "collect"): (
        1,
        "one row per directory of the table's version: directory names",
    ),
    ("plans/snapshots.py", "SnapshotStore.merge_upsert", "collect"): (
        1,
        "one row per directory of the table's version: directory names",
    ),
    ("streaming/docs.py", "stage_documents_batches.build", "collect"): (
        1,
        "one row: the N_BATCHES - 1 doc_id bounds",
    ),
    ("workloads/dedup.py", "dedup_prefix_jaccard_bounded", "collect"): (
        1,
        "not a driver read: the Python garbage collector",
    ),
    ("workloads/similarity.py", "_pca_vector", "collect"): (
        1,
        "_DIM x _DIM moment rows",
    ),
    ("workloads/text.py", "_bigram_dicts_shared", "toPandas"): (
        2,
        "UNGATED — ROADMAP item 4",
    ),
    ("workloads/text.py", "_bigram_dicts_shared", "broadcast"): (
        1,
        "UNGATED — ROADMAP item 4",
    ),
}

# Methods that bring rows into the driver. ``broadcast`` counts on any
# receiver but ``F`` (``F.broadcast`` is a join hint), and
# ``read_table`` on any receiver (``pq.read_table``; the engine's own
# Spark reader is the bare ``read_table``).
_DRIVER_READ_METHODS = {
    "collect",
    "toPandas",
    "toArrow",
    "toLocalIterator",
    "head",
    "first",
    "take",
    "tail",
    "broadcast",
    "read_table",
}


def driver_reads(src: str) -> Counter:
    """Calls of a driver-read method, counted per (dotted name of the
    enclosing functions and classes, or ``<module>``; method)."""
    found: Counter = Counter()

    def visit(node: ast.AST, scope: str) -> None:
        if isinstance(node, (*_FUNCS, ast.ClassDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            hint = isinstance(f.value, ast.Name) and f.value.id == "F"
            if f.attr in _DRIVER_READ_METHODS and not (f.attr == "broadcast" and hint):
                found[(scope or "<module>", f.attr)] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(src), "")
    return found


def test_driver_reads_detects_every_form():
    src = (
        "top = spark.range(1).collect()\n"
        "def f(df, spark):\n"
        "    a = df.toPandas(); b = df.head(2); c = df.first(); d = df.take(3)\n"
        "    e = spark.sparkContext.broadcast(a)\n"
        "    g = pq.read_table(path)\n"
        "    h = df.join(F.broadcast(df), 'k')\n"
        "    n = df.count()\n"
        "    t = read_table(spark, sf, 'events')\n"
        "    def build():\n"
        "        return df.collect()[0][0]\n"
        "class S:\n"
        "    def m(self, df):\n"
        "        return [r for r in df.collect()] + df.collect()\n"
    )
    assert driver_reads(src) == {
        ("<module>", "collect"): 1,
        ("f", "toPandas"): 1,
        ("f", "head"): 1,
        ("f", "first"): 1,
        ("f", "take"): 1,
        ("f", "broadcast"): 1,
        ("f", "read_table"): 1,
        ("f.build", "collect"): 1,
        ("S.m", "collect"): 2,
    }


def test_every_driver_read_names_its_bound():
    found = {
        (str(path.relative_to(PKG)), scope, method): n
        for path in sorted(PKG.rglob("*.py"))
        for (scope, method), n in driver_reads(path.read_text()).items()
    }
    assert found == {k: n for k, (n, _) in DRIVER_READS_ALLOWED.items()}
    ungated = {k[1] for k, (_, b) in DRIVER_READS_ALLOWED.items() if "UNGATED" in b}
    assert ungated == {"_bigram_dicts_shared"}

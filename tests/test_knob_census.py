"""Census of the environment variables the package reads and of the
runtime SQL confs it sets. Each env knob or runtime tuning key is a
place where the benchmarked engine can differ from the one the
correctness gate verifies, so adding one must update this test on
purpose."""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "flat_file_social_media_database_engine_spark"
)

EXPECTED = {
    # deployment settings (session.py)
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT",
}

EXPECTED_CONF_SETS = {
    # correctness settings that must hold in any caller's plain session
    # (sources/catalog.py, sources/json_source.py, streaming/events.py)
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    # set on a stream drain's own child session only
    # (streaming/events.py::run_stream_to_parquet)
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
}


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

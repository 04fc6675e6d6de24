"""Driver-contract integrity: the rotation list, queries(), and
oracle_sql() must stay mutually consistent — a typo'd front entry or
an oracle without a query would fail the driver gate, not a test,
without this."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402


def test_front_rotation_names_exist_and_unique():
    order = entry_mod._rotation_order(list(entry_mod._queries_raw()))
    q = entry_mod.queries()
    assert len(order) == len(set(order)), "duplicate rotation entries"
    missing = [n for n in order if n not in q]
    assert not missing, f"rotation names without queries(): {missing}"


def test_queries_and_oracles_align():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q), f"oracles without queries: {set(o) - set(q)}"
    # the repo convention: EVERY query is oracle-gated
    assert set(q) == set(o), f"queries without oracles: {set(q) - set(o)}"


def test_rotation_front_leads_queries_order():
    q = list(entry_mod.queries())
    order = entry_mod._rotation_order(list(entry_mod._queries_raw()))
    assert q == order, "queries() must emit the rotation order exactly"


def test_no_unquantized_transcendental_finishes():
    """Every ln()/exp()/log() in every oracle must be inside a
    round(...) — the raw-transcendental-finish class produced the two
    r7 ULP mismatches (ev_ab_sequential, ts_spectral_slope). The same
    expression text is shared with the Spark side for these finishes,
    so fencing the oracle fences both engines."""
    from tests.oracle_compare import unquantized_transcendentals

    bad = {}
    for name, sql in entry_mod.oracle_sql().items():
        v = unquantized_transcendentals(sql)
        if v:
            bad[name] = v[:3]
    assert not bad, (
        f"oracles with transcendental calls outside round(...): {bad} "
        f"— quantize the finish to 9 dp (round(expr, 9)) or the "
        f"nano-nat BIGINT idiom in BOTH engines"
    )


def test_no_duplicate_registry_assignments():
    """A second `sql["name"] =` or dict-literal `"name": q_fn` entry
    silently OVERRIDES the first (dict semantics) — the r7 SemDeDup
    near-miss and this round's emb_dim_stats collision. Grep the
    entry-file source for duplicate oracle assignments and duplicate
    queries()-dict keys and fail loudly."""
    import re

    src = open(entry_mod.__file__).read()
    oracle_names = re.findall(r'sql\["(\w+)"\] =', src)
    dupes = sorted(
        {n for n in oracle_names if oracle_names.count(n) > 1}
    )
    # known intentional alias: stream_circadian reuses ev_circadian's
    # oracle via sql[...] = sql[...] (single assignment each) — any
    # true duplicate assignment shows up here.
    assert not dupes, f"duplicate oracle assignments: {dupes}"
    qd = re.search(r"\n    q = \{\n(.*?)\n    \}\n", src, re.S)
    assert qd, "queries() dict literal not found"
    keys = re.findall(r'"(\w+)": q_\w+', qd.group(1))
    qdupes = sorted({n for n in keys if keys.count(n) > 1})
    assert not qdupes, f"duplicate queries() dict keys: {qdupes}"


def test_no_duplicate_module_constants():
    """Module-level UPPERCASE expression constants are oracle-shared
    text: a REDEFINITION later in the file silently rewrites every
    earlier importer's oracle (the TP_Z collision this session — the
    wave-6 turning-point z overwrote the randomness panel's
    same-named constant and broke ts_randomness_tests' oracle at
    bind time). Fence the whole class: no module in the package may
    define the same top-level constant twice."""
    import pathlib
    import re

    pkg = pathlib.Path(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ) / "pennsieve_streaming_spark"
    pat = re.compile(r"^([A-Z][A-Z0-9_]*)\s*=", re.M)
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        names = pat.findall(py.read_text())
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            offenders.append((str(py), dups))
    assert not offenders, (
        f"duplicate module-level constants (silent oracle-text "
        f"rewrites): {offenders}"
    )


# Deployment settings: the only environment reads the package may make.
_ENV_READS_ALLOWED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEM"),
    ("serving/launcher.py", "SPARK_GRAFT_SF_DIR"),
    ("serving/launcher.py", "PSS_JWT_SECRET"),
}


def test_no_env_var_knobs():
    """Tuning knobs are module constants, never environment variables:
    an env read makes a code path depend on the shell that launched it
    and lets a one-off setting outlive its measurement. Walk the AST of
    every package module and fail on any ``os.environ``/``os.getenv``
    use outside the deployment settings above."""
    import ast
    import pathlib

    def os_attr(node, *attrs):
        return (
            isinstance(node, ast.Attribute)
            and node.attr in attrs
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    pkg = pathlib.Path(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ) / "pennsieve_streaming_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        tree = ast.parse(py.read_text())
        allowed_nodes = set()
        for node in ast.walk(tree):
            # os.getenv("K", ...), os.environ.get("K", ...), os.environ["K"]
            if isinstance(node, ast.Call) and os_attr(node.func, "getenv"):
                env, key = node.func, node.args[0] if node.args else None
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and os_attr(node.func.value, "environ")
            ):
                env, key = node.func.value, node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and os_attr(node.value, "environ"):
                env, key = node.value, node.slice
            else:
                continue
            if isinstance(key, ast.Constant) and (rel, key.value) in _ENV_READS_ALLOWED:
                allowed_nodes.add(id(env))
        for node in ast.walk(tree):
            if os_attr(node, "environ", "getenv") and id(node) not in allowed_nodes:
                offenders.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.ImportFrom) and node.module == "os" and any(
                a.name in ("environ", "getenv") for a in node.names
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"environment reads outside deployment settings: {offenders}"


# Files that may materialize outside util.pin, each for a lifetime or
# a Spark requirement that a query-scoped pin does not fit.
_MATERIALIZE_ALLOWED = {
    # the serving working set, cached for the whole session
    "pennsieve_streaming_spark/serving/launcher.py",
    # Spark reads the corrupt-record column only from a cached frame
    "pennsieve_streaming_spark/sources/text.py",
    # persist and unpersist scoped to one foreachBatch call
    "pennsieve_streaming_spark/streaming/corpus.py",
}


def test_materialization_only_through_pin():
    """Every shared or iterated intermediate materializes through
    ``util.pin``, the one flavour ``pin_scope`` can release. Walk the
    AST of every package module and ``__spark_entry__.py`` and fail on
    any ``.localCheckpoint(``/``.persist(``/``.cache(`` call outside
    ``util.pin`` and the files above."""
    import ast
    import pathlib

    root = pathlib.Path(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    files = sorted((root / "pennsieve_streaming_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    offenders = []
    for py in files:
        rel = py.relative_to(root).as_posix()
        if rel in _MATERIALIZE_ALLOWED:
            continue
        tree = ast.parse(py.read_text())
        skip = set()
        if rel == "pennsieve_streaming_spark/util.py":
            pin_def = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "pin"
            )
            skip = {id(n) for n in ast.walk(pin_def)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "persist", "cache")
                and id(node) not in skip
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, f"materializations outside util.pin: {offenders}"


# Where the oracles may be read: the registry itself, the tests (the
# one parity comparator is tests/oracle_compare.py), the benchmark's
# answer check, and the REGISTRY.md generator.
_ORACLE_READERS = {"__spark_entry__.py", "tools/gen_registry.py"}
_ORACLE_READER_DIRS = {"tests", "perfbench"}


def test_oracle_sql_read_only_by_the_one_comparator():
    """Parity has one comparator, and it is bit-exact: a second one
    that rounds floats prints MATCH where the parity test fails. Walk
    the AST of every Python file in the repo and fail on an
    ``oracle_sql()`` call outside the readers above."""
    import ast
    import pathlib

    root = pathlib.Path(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    offenders = []
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root)
        if (
            rel.as_posix() in _ORACLE_READERS
            or rel.parts[0] in _ORACLE_READER_DIRS
            or any(part.startswith(".") for part in rel.parts)
        ):
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "oracle_sql"
                or getattr(node.func, "attr", None) == "oracle_sql"
            ):
                offenders.append(f"{rel.as_posix()}:{node.lineno}")
    assert not offenders, f"oracle_sql() read outside the parity test: {offenders}"

"""Source guards over the package: the set of SPARK_GRAFT_* env levers
it reads and where the driver-tier levers are read, the rule that an
operator module uses no underscore name of another operator module
(shared helpers are public, or live in `spool`/`functions`), the
rule that operators keep no per-call state in module globals, and the
rule that only `spool.py` creates, modes and caches spool files."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pyarrowspace_spark"
OPERATORS = PKG / "operators"

# Each lever added or removed is a deliberate edit of this set.
ENV_LEVERS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT",
    "SPARK_GRAFT_SCRATCH_DIR",
    "SPARK_GRAFT_SCRATCH_WORLD_READABLE",
    "SPARK_GRAFT_DIFFUSE_BCAST_MAX",
    "SPARK_GRAFT_EXACT_PCT_MAX",
    "SPARK_GRAFT_LSH_MIN_FREE",
}


def _trees(root):
    for path in sorted(root.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_key(node):
    """The constant key of os.environ.get(k) / os.getenv(k) /
    os.environ[k], else None."""
    if isinstance(node, ast.Call) and node.args:
        f = node.func
        if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value))
                or (f.attr == "getenv" and isinstance(f.value, ast.Name)
                    and f.value.id == "os")):
            key = node.args[0]
        else:
            return None
    elif isinstance(node, ast.Subscript) and _is_environ(node.value):
        key = node.slice
    else:
        return None
    return key.value if isinstance(key, ast.Constant) else None


def test_env_levers_pinned():
    """Guard: the package reads exactly the 8 pinned SPARK_GRAFT_* env
    levers, so a new lever (or a dead one left behind) fails CI."""
    read = {key for _, tree in _trees(PKG) for node in ast.walk(tree)
            if isinstance(key := _env_key(node), str)
            and key.startswith("SPARK_GRAFT_")}
    assert read == ENV_LEVERS


def test_one_driver_tier_rule():
    """Guard: the driver-tier budget lever is read only in
    `functions/matrix.py` (by `driver_fits`), and the kNN strategy
    switch `EXACT_PATH_MAX_ROWS` only by the kNN and dedup operators —
    no driver tier borrows it."""
    budget_readers, switch_readers = set(), set()
    for path, tree in _trees(PKG):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(tree):
            if _env_key(node) == "SPARK_GRAFT_DIFFUSE_BCAST_MAX":
                budget_readers.add(rel)
            if "EXACT_PATH_MAX_ROWS" in (
                    getattr(node, "id", None), getattr(node, "attr", None),
                    getattr(node, "name", None)):
                switch_readers.add(rel)
    assert budget_readers == {"functions/matrix.py"}
    assert switch_readers == {"operators/knn.py", "operators/dedup.py"}


def test_operators_import_no_private_operator_names():
    """Guard: no module under operators/ imports an underscore name from
    another operator module, by `from .x import _y` or by `x._y` on an
    imported operator module."""
    ops = {p.stem for p in OPERATORS.glob("*.py")} - {"__init__"}
    bad = []
    for path, tree in _trees(OPERATORS):
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level == 1 and not mod:
                    # from . import knn as knn_ops
                    aliases |= {a.asname or a.name for a in node.names
                                if a.name in ops}
                    continue
                target = (mod if node.level == 1 else
                          mod.removeprefix("pyarrowspace_spark.operators.")
                          if mod.startswith("pyarrowspace_spark.operators.")
                          else None)
                if target in ops and target != path.stem:
                    bad += [f"{path.name}: from {target} import {a.name}"
                            for a in node.names if a.name.startswith("_")]
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases
                    and node.attr.startswith("_")):
                bad.append(f"{path.name}: {node.value.id}.{node.attr}")
    assert bad == []


def test_operators_keep_no_call_records_in_globals():
    """Guard: no module under operators/ has a `global` statement, and
    no package module binds a `_LAST_*` name at module level: a call's
    record travels with the call (`diffuse(info=)`,
    `knn_edges(info=)`), so two builds in one process cannot overwrite
    each other's."""
    bad = [f"{path.name}:{node.lineno} global {', '.join(node.names)}"
           for path, tree in _trees(OPERATORS)
           for node in ast.walk(tree) if isinstance(node, ast.Global)]
    for path, tree in _trees(PKG):
        for node in tree.body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(
                           node, (ast.AnnAssign, ast.AugAssign)) else [])
            bad += [f"{path.name}: {t.id}" for t in targets
                    if isinstance(t, ast.Name)
                    and t.id.startswith("_LAST_")]
    assert bad == []


def test_one_lambda_pass():
    """Guard: the Spark λ pass `with_energy_components` and its `_ec`
    struct column are named only in `operators/lambda_index.py`: every
    build, extend and stream reaches them through its blend and median
    helpers, so there is one blend, not one per caller."""
    bad = []
    for path, tree in _trees(PKG):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/lambda_index.py":
            continue
        for node in ast.walk(tree):
            name = (getattr(node, "id", None) or getattr(node, "attr", None)
                    or getattr(node, "name", None))
            if name == "with_energy_components":
                bad.append(f"{rel}:{node.lineno} with_energy_components")
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and (node.value == "_ec"
                         or node.value.startswith("_ec."))):
                bad.append(f"{rel}:{node.lineno} {node.value!r}")
    assert bad == []


def test_builders_probe_shape_only_through_the_census():
    """Guard: `builder.py` and `operators/energy.py` call no `F.size`:
    their shape probes are `matrix.census`, the one aggregate that also
    checks the input contract."""
    bad = [f"{path.name}:{node.lineno}"
           for path in (PKG / "builder.py", OPERATORS / "energy.py")
           for node in ast.walk(ast.parse(path.read_text()))
           if isinstance(node, ast.Call)
           and isinstance(node.func, ast.Attribute)
           and node.func.attr == "size"
           and isinstance(node.func.value, ast.Name)
           and node.func.value.id == "F"]
    assert bad == []


def test_lsh_pair_stage_runs_no_grouped_pandas_kernel():
    """Guard: `operators/knn.py` calls no `applyInPandas`: the LSH pair
    stage is one partition-wide mapInPandas kernel over sorted rows, not
    two pandas frames per bucket."""
    bad = [node.lineno
           for node in ast.walk(ast.parse((OPERATORS / "knn.py").read_text()))
           if isinstance(node, ast.Attribute) and node.attr == "applyInPandas"]
    assert bad == []


def test_spool_files_only_in_spool_module():
    """Guard: no module under operators/ calls `np.lib.format.open_memmap`,
    `np.save` or `os.chmod`, or binds a module-level dict: spool files
    are created, moded and cached (`spool.write`, `alloc`, `save`,
    `reopen`) only by `spool.py`, so one module knows the format."""
    bad = []
    for path, tree in _trees(OPERATORS):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = ast.unparse(node.func)
                if (name.endswith("open_memmap")
                        or name in ("np.save", "numpy.save", "os.chmod")):
                    bad.append(f"{path.name}:{node.lineno} {name}")
        for node in tree.body:
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            value = node.value
            if (isinstance(value, (ast.Dict, ast.DictComp))
                    or (isinstance(value, ast.Call)
                        and ast.unparse(value.func) == "dict")
                    or (isinstance(node, ast.AnnAssign)
                        and ast.unparse(node.annotation).startswith(
                            ("dict", "Dict")))):
                bad.append(f"{path.name}:{node.lineno} module-level dict")
    assert bad == []


def test_one_neighbour_combine():
    """Guard: `functions/matrix.py` holds the package's one
    per-destination combine (`segment_sum`) and its one edge layout
    (`dst_layout`): no other module takes a per-segment matvec
    `w[s:e] @ …` or sorts a partition by ("dst", "src"), and the edge
    partials kernel and the per-operator orientation helpers are gone."""
    segment_matvecs, layouts, gone = [], [], []
    for path, tree in _trees(PKG):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(tree):
            if (isinstance(node, ast.BinOp)
                    and isinstance(node.op, ast.MatMult)
                    and isinstance(node.left, ast.Subscript)
                    and isinstance(node.left.slice, ast.Slice)):
                segment_matvecs.append(f"{rel}:{node.lineno}")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "sortWithinPartitions"
                    and [ast.unparse(a) for a in node.args]
                    == ["'dst'", "'src'"]):
                layouts.append(rel)
            if (getattr(node, "name", None) or getattr(node, "attr", None)
                    or getattr(node, "id", None)) in (
                    "_make_edge_partials_kernel", "_symmetrize",
                    "_both_dirs"):
                gone.append(f"{rel}:{node.lineno}")
    assert {p.split(":")[0] for p in segment_matvecs} <= {
        "functions/matrix.py"}, segment_matvecs
    assert layouts == ["functions/matrix.py"]
    assert gone == []

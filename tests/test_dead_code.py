"""Dead-code guard: every top-level function, class or assigned name in
the package must be referenced somewhere — by name, attribute or import —
in the package, ``tools/``, ``bench.py``, ``examples/``, ``perfbench/`` or
``tests/``.  Only reads count: a name that is only ever assigned (its own
definition included) is unreferenced.  Decorated defs are skipped: a
decorator (``@register``, ``@udf``, ...) is itself the reference that
makes them reachable.  Dunder assignments (``__all__``, ...) are skipped.
Mentions in docstrings and comments do not count.  A second scan pins
the set of ``SPARK_GRAFT_*`` environment knobs the code reads, a third
the public methods of ``api.PsyEngine``, a fourth that no function
takes a kernel choice as a parameter, and a fifth that ``api.py`` names
no kernel.  Pure ``ast``; no Spark."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "psy_supabase_spark"
SEARCHED = [PACKAGE, ROOT / "tools", ROOT / "examples", ROOT / "perfbench", ROOT / "tests"]


def _py_files(paths):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _py_files([*SEARCHED, ROOT / "bench.py", ROOT / "__spark_entry__.py"]):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                names.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines that the guard checks."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [] if node.decorator_list else [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def unreferenced_defs() -> list[str]:
    used = _referenced_names()
    dead = []
    for path in _py_files([PACKAGE]):
        for node in _parse(path).body:
            dead.extend(
                f"{path.relative_to(ROOT)}:{node.lineno} {name}"
                for name in _defined_names(node)
                if name not in used
            )
    return dead


def test_no_unreferenced_defs():
    dead = unreferenced_defs()
    assert not dead, "top-level names nothing references:\n" + "\n".join(dead)


# The environment knobs the package, ``tools/`` and ``bench.py`` may read.
# A new one is an option, and options need a reason: add it here with it.
ENV_KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_FAMILIES",
    "SPARK_GRAFT_SF_DIR",
}


def _docstring_nodes(tree: ast.Module) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def env_knob_names() -> set[str]:
    """Every ``SPARK_GRAFT_*`` name in a string constant outside docstrings."""
    names: set[str] = set()
    for path in _py_files([PACKAGE, ROOT / "tools", ROOT / "bench.py"]):
        tree = _parse(path)
        docstrings = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                names.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", node.value))
    return names


def test_env_knobs_do_not_creep():
    assert env_knob_names() == ENV_KNOBS


# ``api.PsyEngine``'s public methods: one per reference entry point
# (`database.py` / `rag_processor.py`).  Every other capability is a module
# function called directly; a method that only forwards to one is a second
# way to call it, so a new name here needs a reason.
ENGINE_METHODS = {
    "add_interaction",
    "add_documents",
    "get_conversation_history",
    "get_recent_history",
    "get_all_documents_and_embeddings",
    "get_topic_interactions",
    "get_high_quality_interactions",
    "find_similar_documents",
    "get_relevant_documents",
    "create_vector_index",
    "find_similar_documents_batch",
    "classify_safety",
    "analyze_response_effectiveness",
    "build_context",
    "generate_training_examples",
    "is_toxic",
    "clean_responses",
    "extract_entities",
    "determine_topic",
}


def engine_methods() -> set[str]:
    tree = _parse(PACKAGE / "api.py")
    (engine,) = [n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "PsyEngine"]
    return {
        n.name
        for n in engine.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and not n.name.startswith("_")
    }


def test_engine_surface_is_the_reference_surface():
    assert engine_methods() == ENGINE_METHODS


# A vector operator picks its kernel from the width it already has
# (``functions/vector.is_wide``), never from a caller's switch: a switch only
# tests set is a second way to run the operator that production never takes.
KERNEL_SWITCH = re.compile(r"^(gemm|arrow|coarse_verify|.*_arrow)$")


def kernel_switch_parameters() -> list[str]:
    found = []
    for path in _py_files([PACKAGE]):
        for node in ast.walk(_parse(path)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                found.extend(
                    f"{path.relative_to(ROOT)}:{node.lineno} {arg.arg}"
                    for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs)
                    if KERNEL_SWITCH.match(arg.arg)
                )
    return found


def test_kernel_choice_is_not_a_parameter():
    found = kernel_switch_parameters()
    assert not found, "kernel switches as parameters:\n" + "\n".join(found)


# The engine hands queries and widths to the vector operators, which pick
# their own kernel: ``api.py`` names neither the width rule nor a kernel.
def api_kernel_names() -> list[str]:
    found = []
    for node in ast.walk(_parse(PACKAGE / "api.py")):
        if isinstance(node, ast.Name):
            names = [node.id]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [node.name]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.asname or a.name.rsplit(".", 1)[-1] for a in node.names]
        else:
            continue
        found.extend(
            f"api.py:{node.lineno} {n}"
            for n in names
            if n in ("is_wide", "GEMM_MIN_DIM") or n.endswith("_gemm")
        )
    return found


def test_api_picks_no_kernel():
    found = api_kernel_names()
    assert not found, "kernel choice in api.py:\n" + "\n".join(found)

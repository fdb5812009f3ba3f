"""The package API carries no parameter that no caller sets and no public
function that nothing uses.

One AST pass over every ``.py`` file in the repository (package, bench,
tools, benchmark harness, tests, ``__spark_entry__.py``):

* a default-valued parameter of a uniquely named package function counts
  as *set* when any call of that name passes it by keyword, passes enough
  positional arguments to reach it, or forwards ``*args``/``**kwargs``.
  A forward of the enclosing function's own ``**kwargs`` sets only the
  keywords that calls of that enclosing function pass.
  A method's ``self``/``cls`` is skipped, and a class's ``__init__`` is
  called by the class name. Every never-set parameter must be on
  ``ALLOWED_UNSET`` with a one-line reason;
* every public package function must be referenced somewhere other than
  its own definition;
* a second pass leaves ``tests/`` out: every public package function only
  tests reference must be on ``TEST_ONLY`` with a one-line reason.

Run as a script to print the counts and every violation:
``python tests/test_api_surface.py``.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "sentinela_py_spark"

# (function, parameter) → why the parameter stays although no caller sets it.
ALLOWED_UNSET: dict[tuple[str, str], str] = {
    ("run_extraction_stream", "trigger_seconds"):
        "trigger cadence is a deployment setting",
    ("load_engine", "spec"):
        "in-code form of the NER_FACTORY_ENV deployment setting",
    ("audit_dump_path", "base"):
        "a filesystem path is a deployment setting",
    ("run_composed_ingest_stream", "clip_vec_col"):
        "switches on the CLIP screen, whose batch body tests exercise",
    ("run_composed_ingest_stream", "m_bits"):
        "eval Bloom build and probe must share the filter size",
    ("run_composed_ingest_stream", "n_hashes"):
        "eval Bloom build and probe must share the hash count",
}

# public function → why it stays although only tests call it: a
# capability of the reference (its SURVEY.md row and the reference's
# file:line), or the reference implementation a test compares a product
# path against.
TEST_ONLY: dict[str, str] = {
    "run_composed_ingest_stream": "the ingest deployment entry point",
    "run_extraction_stream": "the reference worker, app.py:409-486",
    "stateful_url_dedup": "the reference in-flight set, pending_news_queue.py:26-32",
    "list_by_period": "SURVEY S5/F1/F2/O1, mongo_article_repository.py:44-75",
    "pending_by_version": "SURVEY S4/F3, infrastructure/extraction.py:58-75",
    "upsert_by_key":
        "SURVEY K3/K4, mongo_article_cities_writer.py:18-38, geo_enrichment_job.py:282-311",
    "normalize_article_aliases": "SURVEY F8, infrastructure/extraction.py:115-147",
    "first_page_fallback_urls": "SURVEY S3, scraper.py:337-469",
    "person_dimension": "SURVEY J8, infrastructure/extraction.py:171-207",
    "observe_ingest":
        "SURVEY K9, the per-batch elapsed_ms summary, city_extraction_job.py:30-66,199-230",
    "observe_counts":
        "SURVEY K9, the per-batch elapsed_ms summary, city_extraction_job.py:30-66,199-230",
    "city_catalog_df": "SURVEY S9, city_matching/build_cache.py:184-204",
    "get_portal": "SURVEY S10, portal_service_client.py:50-66",
    "audit_dump_path": "SURVEY K8, cli.py:597-618",
    "dump_audit_html": "SURVEY K8, scraper.py:363-373",
    "catalog_checksum": "SURVEY M14, build_cache.py:207-209",
    "exact_neardup_pairs":
        "test reference: the exact twin test_semdedup compares the LSH pairs against",
    "pq_residual_reconstruct_vecs":
        "test reference: test_vectors compares pq_codes_reconstruct against it bit for bit",
}


def _py_files() -> list[Path]:
    out = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(".") and d != "__pycache__"
        ]
        out += [Path(dirpath) / f for f in filenames if f.endswith(".py")]
    return sorted(out)


def _parse_all() -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}


def _package_defs(trees):
    """name → [(path, def node, skip_first)] over every function and method
    of the package; ``__init__`` is filed under its class name."""
    defs = defaultdict(list)

    def visit(node, path, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, path, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                name = cls if (cls and child.name == "__init__") else child.name
                defs[name].append((path, child, bool(cls) and not static))
                visit(child, path, None)

    for path, tree in trees.items():
        if PACKAGE in path.relative_to(ROOT).parts[:1]:
            visit(tree, path, None)
    return defs


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _calls_with_enclosing_def(trees):
    """name → [(call, innermost enclosing function def or None)]."""
    calls = defaultdict(list)

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and (name := _call_name(child)):
                calls[name].append((child, fn))
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
            visit(child, child if inner else fn)

    for tree in trees.values():
        visit(tree, None)
    return calls


def _forwarded_keywords(call, fn, calls) -> set[str] | None:
    """The keywords a ``**`` forward in ``call`` can carry, or ``None``
    for "any". Only a forward of the enclosing function's own ``**kwargs``
    is resolved, one level up: the keywords its callers pass that are not
    its own named parameters. A ``*args`` forward, any other ``**``
    mapping, or a caller that forwards in turn, can carry anything."""
    if any(isinstance(x, ast.Starred) for x in call.args):
        return None
    forwards = [k.value for k in call.keywords if k.arg is None]
    if not forwards:
        return set()
    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return None
    own = fn.args
    if own.kwarg is None or any(
        not (isinstance(v, ast.Name) and v.id == own.kwarg.arg) for v in forwards
    ):
        return None
    named = {p.arg for p in (*own.posonlyargs, *own.args, *own.kwonlyargs)}
    out: set[str] = set()
    for outer, _ in calls.get(fn.name, ()):
        if any(k.arg is None for k in outer.keywords):
            return None
        out.update(k.arg for k in outer.keywords if k.arg not in named)
    return out


def never_set_parameters(trees=None) -> dict[tuple[str, str], str]:
    """(function, parameter) → ``path:line`` of the definition, for every
    default-valued parameter of a uniquely named package function that no
    call in ``trees`` (path → parsed module; default: the repository)
    sets."""
    trees = _parse_all() if trees is None else trees
    defs = _package_defs(trees)
    calls = _calls_with_enclosing_def(trees)

    out = {}
    for name, entries in defs.items():
        if len(entries) != 1:
            continue
        path, fn, skip_first = entries[0]
        a = fn.args
        positional = [*a.posonlyargs, *a.args][1 if skip_first else 0:]
        defaulted = [p.arg for p in positional[len(positional) - len(a.defaults):]]
        defaulted += [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        if not defaulted:
            continue
        set_names: set[str] = set()
        for call, enclosing in calls.get(name, ()):
            forwarded = _forwarded_keywords(call, enclosing, calls)
            if forwarded is None:
                set_names.update(defaulted)
                break
            set_names |= forwarded
            set_names.update(p.arg for p in positional[: len(call.args)])
            set_names.update(k.arg for k in call.keywords if k.arg is not None)
        where = f"{path.relative_to(ROOT)}:{fn.lineno}"
        out.update({(name, p): where for p in defaulted if p not in set_names})
    return out


def _export_lists(tree: ast.Module) -> set[int]:
    """ids of the nodes inside a module's ``__all__ = [...]`` assignment."""
    return {
        id(n)
        for stmt in tree.body
        if isinstance(stmt, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets)
        for n in ast.walk(stmt.value)
    }


def unreferenced_public_functions(
    skip_tests: bool = False, trees=None
) -> dict[str, str]:
    """name → ``path:line`` for every public module-level package function
    whose name appears nowhere in ``trees`` (path → parsed module; default:
    the repository) as a name, attribute, import or string, except in its
    own definition and in a module's ``__all__`` list, which exports a
    name but does not use it; with ``skip_tests``, references from files
    under ``tests/`` do not count."""
    trees = _parse_all() if trees is None else trees
    refs: set[str] = set()
    for path, tree in trees.items():
        if skip_tests and path.relative_to(ROOT).parts[0] == "tests":
            continue
        exports = _export_lists(tree)
        for node in ast.walk(tree):
            if id(node) in exports:
                continue
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                refs.add(node.value)
    out = {}
    for path, tree in trees.items():
        if PACKAGE not in path.relative_to(ROOT).parts[:1]:
            continue
        for fn in tree.body:
            public = isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")
            if public and fn.name not in refs:
                out[fn.name] = f"{path.relative_to(ROOT)}:{fn.lineno}"
    return out


def test_every_never_set_parameter_is_allowed_with_a_reason():
    unset = never_set_parameters()
    violations = sorted(f"{w} {f}({p})" for (f, p), w in unset.items()
                        if (f, p) not in ALLOWED_UNSET)
    assert not violations, (
        f"{len(violations)} default-valued parameters no caller sets; delete "
        "them or add them to ALLOWED_UNSET with a reason:\n" + "\n".join(violations)
    )
    assert all(r.strip() and "\n" not in r for r in ALLOWED_UNSET.values())
    stale = sorted(set(ALLOWED_UNSET) - set(unset))
    assert not stale, f"allow-list entries that some caller now sets: {stale}"


def test_kwargs_forward_resolves_one_level():
    """``h(**kw)`` forwarding to ``f`` sets only what calls of ``h`` pass."""
    trees = {
        ROOT / PACKAGE / "_synthetic_f.py": ast.parse("def f(a, b=1, c=2):\n    pass\n"),
        ROOT / "tools" / "_synthetic_h.py": ast.parse(
            "def h(**kw):\n    return f(0, **kw)\n\nh(b=3)\n"
        ),
    }
    assert set(never_set_parameters(trees)) == {("f", "c")}


def test_export_list_is_not_a_reference():
    """A name listed in ``__all__`` and used nowhere else is unreferenced."""
    trees = {
        ROOT / PACKAGE / "_synthetic_m.py": ast.parse(
            '__all__ = ["f"]\n\n\ndef f():\n    ...\n'
        ),
    }
    assert set(unreferenced_public_functions(trees=trees)) == {"f"}


def test_every_public_function_is_referenced():
    dead = unreferenced_public_functions()
    assert not dead, "public functions nothing references:\n" + "\n".join(
        f"{w} {n}" for n, w in sorted(dead.items())
    )


def test_every_test_only_function_is_allowed_with_a_reason():
    test_only = unreferenced_public_functions(skip_tests=True)
    violations = sorted(
        f"{w} {n}" for n, w in test_only.items() if n not in TEST_ONLY
    )
    assert not violations, (
        f"{len(violations)} public functions only tests call; give them a "
        "product caller, delete them, or add them to TEST_ONLY with a "
        "reason:\n" + "\n".join(violations)
    )
    assert all(r.strip() and "\n" not in r for r in TEST_ONLY.values())
    stale = sorted(set(TEST_ONLY) - set(test_only))
    assert not stale, f"TEST_ONLY entries that the product now calls: {stale}"


if __name__ == "__main__":
    unset = never_set_parameters()
    bad = {k: w for k, w in unset.items() if k not in ALLOWED_UNSET}
    for (f, p), w in sorted(bad.items(), key=lambda kv: kv[1]):
        print(f"{w} {f}({p})")
    dead = unreferenced_public_functions()
    for n, w in sorted(dead.items()):
        print(f"{w} {n}  [unreferenced]")
    test_only = unreferenced_public_functions(skip_tests=True)
    for n, w in sorted(test_only.items()):
        if n not in TEST_ONLY:
            print(f"{w} {n}  [test-only]")
    print(f"never-set defaulted parameters: {len(unset)} "
          f"({len(bad)} not allowed) in {len({f for f, _ in unset})} functions, "
          f"{len({w.split(':')[0] for w in unset.values()})} files; "
          f"unreferenced public functions: {len(dead)}; "
          f"test-only public functions: {len(test_only)}")

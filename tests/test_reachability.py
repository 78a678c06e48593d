"""Static reachability guard: every ``def``, ``class`` and module-level
assignment in the package and in ``__spark_entry__.py`` must be named
somewhere in non-test code, or it is code that only tests reach.

A name counts as reached when ``\\bname\\b`` matches non-test code
outside five kinds of text: comments, docstrings, import statements (so
``__init__`` re-exports do not keep a name alive), the definition's own
line span (so recursion or a self-mention is no use), and the bodies of
definitions already found dead. Other string literals do count: a name
looked up by string (a wrapper list, ``getattr``) is reached. A package
module whose every top-level definition is dead is dead as a whole. The
dead set is grown until it stops changing, so a helper named only inside
dead code is dead too. Standard library only; no Spark.
"""

import ast
import io
import os
import re
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "multi_table_plugins_spark"
ENTRY_SCRIPTS = (
    "__spark_entry__.py",
    "maintain.py",
    "run_cdc_job.py",
    "bench.py",
    "bench_extra.py",
)

# Definitions kept although no entry point names them, each with why.
ALLOWLIST = {
    "onQueryStarted": "StreamingQueryListener callback, invoked by Spark",
    "onQueryProgress": "StreamingQueryListener callback, invoked by Spark",
    "onQueryTerminated": "StreamingQueryListener callback, invoked by Spark",
    "streamReader": "DataSource hook, invoked by Spark's Python data source API",
    "read_errors": "public reader of the error port's parquet output",
    "jdbc_type_to_spark": "reference parity: DBTypes.java:73-135 type mapping (COVERAGE K7)",
    "time_to_micros": "reference parity: DBTypes.java TIME handling (COVERAGE K7)",
    "read_union": "reference parity: tagged multi-table fan-in (S9)",
    "read_all": "reference parity: per-table fan-in (S9)",
    "route_all": "reference parity: route every table of a union (R1)",
    "split_where_clause": "reference parity: DBTableSplit.java:77-84 split predicate",
    "build_split_query": "reference parity: DBTableRecordReader.java:169-180 split query",
    "DEFAULT_CLAUSE": "reference parity: DBTableSplit.java:29 open-bound placeholder",
    "split_bounds": "reference parity: MultiTableDBInputFormat.java:253-257 split bounds",
    "WarehouseSnapshot": "public pinned reader of the warehouse snapshot log",
    "stage_cdc_batch": "staging half of maintain.py publish-staged (write-audit-publish)",
    "default_branch": "staging half of maintain.py publish-staged: the batch's branch name",
    "_write_marker": "staging half of maintain.py publish-staged: the staged-table marker",
    "TARGET_SCHEMA": "documented target-table schema",
}


def _sources():
    """(relpath, is_definition_source) for every non-test Python file."""
    out = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                out.append((os.path.relpath(os.path.join(dirpath, f), ROOT), True))
    for f in ENTRY_SCRIPTS:
        out.append((f, f == "__spark_entry__.py"))
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, "perfbench")):
        dirnames[:] = sorted(
            d for d in dirnames if d not in ("tests", "_work", "__pycache__")
        )
        for f in sorted(filenames):
            if f.endswith(".py"):
                out.append((os.path.relpath(os.path.join(dirpath, f), ROOT), False))
    return out


def _definitions(tree):
    """(name, first_line, last_line, top_level) of every def/class anywhere
    and every module-level assignment."""
    top = set(map(id, tree.body))
    defs = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.append((node.name, node.lineno, node.end_lineno, id(node) in top))
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    defs.append((n.id, node.lineno, node.end_lineno, True))
    return defs


def _docstring_starts(tree):
    """(line, col) where each module, class and function docstring starts."""
    return {
        (node.body[0].lineno, node.body[0].col_offset)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and ast.get_docstring(node, clean=False) is not None
    }


def _words_by_line(text, tree):
    """{line: words} of the code tokens: comments and docstrings are
    left out; a multi-line token's words land on their own lines."""
    docstrings = _docstring_starts(tree)
    out = {}
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING and tok.start in docstrings
        ):
            continue
        for i, part in enumerate(tok.string.split("\n")):
            out.setdefault(tok.start[0] + i, set()).update(re.findall(r"\w+", part))
    return out


def _scan():
    """Returns (definitions, occurrences, n_lines): definitions are
    (name, path, first_line, last_line, top_level); occurrences map each
    word to the (path, line) pairs where it appears in code outside
    import statements; n_lines maps each path to its line count."""
    definitions, occurrences, n_lines = [], {}, {}
    for rel, defines in _sources():
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            text = fh.read()
        tree = ast.parse(text, rel)
        import_lines = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                import_lines.update(range(node.lineno, node.end_lineno + 1))
        n_lines[rel] = len(text.splitlines())
        for lineno, words in _words_by_line(text, tree).items():
            if lineno in import_lines:
                continue
            for word in words:
                occurrences.setdefault(word, []).append((rel, lineno))
        if defines:
            definitions += [(d[0], rel) + d[1:] for d in _definitions(tree)]
    return definitions, occurrences, n_lines


def dead_definitions(allowlist=ALLOWLIST):
    """``path:line name`` of every definition no non-test code reaches,
    grown to a fixed point."""
    definitions, occurrences, n_lines = _scan()
    candidates = [
        d
        for d in definitions
        if not (d[0].startswith("__") and d[0].endswith("__")) and d[0] not in allowlist
    ]
    module_tops = {}
    for d in definitions:
        if d[4] and d[1].startswith(PACKAGE) and not d[1].endswith("__init__.py"):
            module_tops.setdefault(d[1], []).append(d)
    dead = []
    while True:
        spans = [(p, a, b) for _, p, a, b, _ in dead]
        spans += [
            (p, 1, n_lines[p])
            for p, tops in module_tops.items()
            if all(d in dead for d in tops)
        ]

        def reached(name, path, first, last):
            return any(
                not (rel == path and first <= lineno <= last)
                and not any(rel == p and a <= lineno <= b for p, a, b in spans)
                for rel, lineno in occurrences.get(name, ())
            )

        newly = [d for d in candidates if d not in dead and not reached(*d[:4])]
        if not newly:
            return sorted(f"{p}:{a} {n}" for n, p, a, _, _ in dead)
        dead += newly


def test_no_definition_is_reached_only_from_tests():
    dead = dead_definitions()
    assert not dead, (
        "definitions that no entry point reaches (delete them, or add an "
        "ALLOWLIST entry with its reason):\n  " + "\n  ".join(dead)
    )


def test_allowlist_is_still_needed():
    """Every allowlisted name is still defined and the scan would flag it
    without its entry: once an entry point reaches it, drop the entry."""
    flagged = {entry.split()[1] for entry in dead_definitions(allowlist={})}
    assert set(ALLOWLIST) <= flagged, sorted(set(ALLOWLIST) - flagged)

"""Static boundary guard: the manifest log's on-disk format, its
commit-conflict policy and the fate of written data runs live in
``lakehouse/table.py`` only.

Everywhere else in the package, each of these is a finding, reported
as ``file:line``:

  * an ``except`` clause naming ``CommitConflict`` (retrying is
    ``LakeTable.recompute_on_conflict`` or the re-apply loop inside
    ``LakeTable``);
  * an assignment to ``_manifest_cache_version``;
  * a call of ``_write_data_files`` or ``_commit_run`` (the one owner
    that commits a written or placed run, or deletes it);
  * a string literal holding ``"manifest-"``, ``"commit-"`` or
    ``"_manifests"`` (the log's file names); docstrings are prose and
    do not count.

Inside ``lakehouse/table.py``, a manifest publish (``_publish``) is
made only by ``create``, ``_commit_metadata`` and ``_commit_rewrite``,
and data files are written (``_write_data_files``) only by
``_write_and_commit``, so every run has one commit-or-delete owner.

Standard library only; no Spark.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "multi_table_plugins_spark"
OWNER = os.path.join(PACKAGE, "lakehouse", "table.py")
LOG_NAMES = ("manifest-", "commit-", "_manifests")
PRIVATE_WRITES = ("_write_data_files", "_commit_run")
#: write-side call -> the only definitions in the owner that may make it
WRITE_SIDE_CALLERS = {
    "_publish": {"create", "_commit_metadata", "_commit_rewrite"},
    "_write_data_files": {"_write_and_commit"},
}


def _names(node):
    """Names an ``except`` clause's type expression mentions."""
    if node is None:
        return set()
    if isinstance(node, ast.Tuple):
        return set().union(*(_names(e) for e in node.elts))
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    return set()


def _docstrings(tree):
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _targets(node):
    if isinstance(node, ast.Assign):
        todo = list(node.targets)
    elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
        todo = [node.target]
    else:
        return []
    out = []
    while todo:
        t = todo.pop()
        if isinstance(t, (ast.Tuple, ast.List)):
            todo.extend(t.elts)
        else:
            out.append(t)
    return out


def findings(source: str, rel: str) -> "list[str]":
    tree = ast.parse(source)
    docs = _docstrings(tree)
    out = []
    for node in ast.walk(tree):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.ExceptHandler):
            if "CommitConflict" in _names(node.type):
                out.append(f"{where}: except CommitConflict")
        for t in _targets(node):
            if isinstance(t, ast.Attribute) and t.attr == "_manifest_cache_version":
                out.append(f"{where}: assigns _manifest_cache_version")
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in PRIVATE_WRITES:
                out.append(f"{where}: calls {name}")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            hit = [n for n in LOG_NAMES if n in node.value]
            if hit:
                out.append(f"{where}: literal {hit[0]!r}")
    return sorted(out, key=lambda f: int(f.split(":")[1]))


def _package_sources():
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
                if rel != OWNER:
                    yield rel


def test_manifest_log_has_one_owner():
    found = []
    for rel in _package_sources():
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            found.extend(findings(fh.read(), rel))
    assert not found, (
        "the manifest log's format and conflict policy belong to "
        f"{OWNER}; found outside it:\n" + "\n".join(found)
    )


def test_guard_flags_each_kind():
    src = '''
"""docstring naming manifest-00000001.json is prose"""
def f(lt, io, p):
    try:
        lt._write_data_files(None, 1, "delta")
    except (ValueError, CommitConflict):
        lt._commit_run("data/r", list, dict)
        lt._manifest_cache_version = -1
    return io.read_text(p + f"commit-{1:08d}.json")
'''
    got = findings(src, "x.py")
    kinds = sorted(g.split(": ", 1)[1] for g in got)
    assert kinds == [
        "assigns _manifest_cache_version",
        "calls _commit_run",
        "calls _write_data_files",
        "except CommitConflict",
        "literal 'commit-'",
    ], got


def write_side_findings(source: str, rel: str) -> "list[str]":
    """Calls of a ``WRITE_SIDE_CALLERS`` name made outside its allowed
    definitions; a call inside a nested function or lambda counts as
    its enclosing method's (or module function's)."""
    tree = ast.parse(source)
    owners = []
    for node in tree.body:
        if isinstance(node, ast.ClassDef):
            owners.extend(n for n in node.body if isinstance(n, ast.FunctionDef))
        elif isinstance(node, ast.FunctionDef):
            owners.append(node)
    out = []
    for fn in owners:
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                allowed = WRITE_SIDE_CALLERS.get(node.func.attr)
                if allowed is not None and fn.name not in allowed:
                    out.append(f"{rel}:{node.lineno}: {node.func.attr}( in {fn.name}")
    return out


def test_write_side_has_one_owner():
    with open(os.path.join(ROOT, OWNER), encoding="utf-8") as fh:
        found = write_side_findings(fh.read(), OWNER)
    assert not found, (
        "a manifest publish or a data-file write outside its owner "
        "leaves a run no one commits or deletes:\n" + "\n".join(found)
    )


def test_write_side_guard_flags_each_kind():
    src = '''
class T:
    def _commit_rewrite(self, m):
        self._publish(m)
    def vacuum(self, m):
        self._publish(m)
    def _write_and_commit(self, df):
        return lambda: self._write_data_files(df, "data/r", "base")
    def rebucket(self, df):
        def commit(new):
            self._write_data_files(df, "data/r", "base")
        return commit
'''
    got = write_side_findings(src, "x.py")
    assert [g.split(": ", 1)[1] for g in got] == [
        "_publish( in vacuum",
        "_write_data_files( in rebucket",
    ], got

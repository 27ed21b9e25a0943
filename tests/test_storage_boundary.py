"""The file DataObjects, and CopyAction's delete of its input, reach storage
on the driver only through `fs`: the modules below use no file-system module
or `os` call of their own, so a plain path, a `file:` URI and a Hadoop store
take the same code path.

Two helpers stay local-only, because their libraries read local files:
zip packaging (`zipfile`) and parquet footer row counts (`pyarrow`). They
may import those libraries and are exempt from the call check; no other
function may import them."""

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "smart_data_lake_spark"
GUARDED = ["dataobjects/file.py", "dataobjects/table.py", "actions/copy.py"]
FORBIDDEN_MODULES = {"glob", "shutil", "tempfile"}
FORBIDDEN_CALLS = {
    "os.walk",
    "os.listdir",
    "os.remove",
    "os.replace",
    "os.makedirs",
    "os.path.isdir",
    "os.path.isfile",
    "os.path.exists",
    "os.path.getsize",
    "os.path.getmtime",
}
#: function name → the local-file library it may import
LOCAL_ONLY = {"_zip_output_files": "zipfile", "get_stats": "pyarrow"}


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return f"{base}.{node.attr}" if base else None
    return None


def violations(source: str) -> list[str]:
    found: list[str] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        line = getattr(node, "lineno", 0)
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                names = [f"{node.module}.{a.name}" for a in node.names]
            for name in names:
                top = name.split(".")[0]
                if top in FORBIDDEN_MODULES or name in FORBIDDEN_CALLS:
                    found.append(f"{line}: imports {name}")
                elif top in LOCAL_ONLY.values() and LOCAL_ONLY.get(func) != top:
                    found.append(f"{line}: imports local-only {top} outside its helper")
        if isinstance(node, ast.Call) and func not in LOCAL_ONLY:
            name = _dotted(node.func)
            if name in FORBIDDEN_CALLS:
                found.append(f"{line}: calls {name}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return found


@pytest.mark.parametrize("module", GUARDED, ids=lambda m: m.split("/")[-1])
def test_file_dataobjects_touch_storage_only_through_fs(module):
    assert violations((PACKAGE / module).read_text()) == []


def test_guard_detects_bypasses():
    source = (
        "import shutil\n"
        "from os.path import isdir\n"
        "def f(p):\n"
        "    import zipfile\n"
        "    return os.walk(p)\n"
        "def get_stats(p):\n"
        "    import pyarrow.parquet\n"
        "    return os.path.getsize(p)\n"
    )
    assert violations(source) == [
        "1: imports shutil",
        "2: imports os.path.isdir",
        "4: imports local-only zipfile outside its helper",
        "5: calls os.walk",
    ]

"""The seen-filter row format has one owner: ``functions/filters.py``
decodes (``from_row``) and encodes (``row``) the stored Bloom and
cuckoo rows, so no other module builds a filter from raw parts or
reads filter bytes itself."""

import ast
import os

import spider_spark

PKG = os.path.dirname(spider_spark.__file__)
FILTER_CLASSES = {"BloomFilter", "CuckooFilter"}


def _calls(tree: ast.AST) -> list[str]:
    """``Filter.__new__`` calls on the filter classes and ``frombuffer``
    calls (``np.frombuffer(...)``, a bare ``frombuffer(...)``), as
    ``"BloomFilter.__new__"`` / ``"frombuffer"``."""
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (isinstance(f, ast.Attribute) and f.attr == "__new__"
                and isinstance(f.value, ast.Name)
                and f.value.id in FILTER_CLASSES):
            out.append(f"{f.value.id}.__new__")
        elif ((isinstance(f, ast.Attribute) and f.attr == "frombuffer")
              or (isinstance(f, ast.Name) and f.id == "frombuffer")):
            out.append("frombuffer")
    return out


def _scan() -> dict[str, list[str]]:
    found = {}
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    calls = _calls(ast.parse(fh.read(), path))
                if calls:
                    found[os.path.relpath(path, PKG)] = calls
    return found


def test_only_filters_module_builds_filters_from_parts():
    found = _scan()
    offenders = {p: c for p, c in found.items()
                 if p != os.path.join("functions", "filters.py")
                 and any(x.endswith(".__new__") for x in c)}
    assert not offenders, offenders


def test_no_filter_bytes_decoded_in_engine_or_operators():
    """The analytics modules decode media and text buffers, which is
    not filter state; the engine and the operators never decode bytes."""
    found = _scan()
    offenders = {p: c for p, c in found.items()
                 if (p == "engine.py" or p.startswith("operators" + os.sep))
                 and "frombuffer" in c}
    assert not offenders, offenders


def test_calls_detects_every_form():
    src = ("import numpy as np\nfrom numpy import frombuffer\n"
           "a = BloomFilter.__new__(BloomFilter)\n"
           "b = CuckooFilter.__new__(CuckooFilter)\n"
           "c = np.frombuffer(x, dtype=np.uint64)\nd = frombuffer(x)\n"
           "e = cls.__new__(cls)\nf = object.__new__(Other)\n")
    assert sorted(_calls(ast.parse(src))) == [
        "BloomFilter.__new__", "CuckooFilter.__new__",
        "frombuffer", "frombuffer"]

"""The crawl stack's settings surface: which environment variables the
package reads, and the session configuration those defaults produce."""

import ast
import os

import spider_spark

PKG = os.path.dirname(spider_spark.__file__)


def _env_reads(tree: ast.AST) -> list[str]:
    """Names of the environment variables a module reads through
    ``os.environ[...]``, ``os.environ.get(...)`` or ``os.getenv(...)``;
    any other use of ``environ``/``getenv`` (a non-literal key, the
    mapping passed on whole) reads as ``<dynamic>``."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    out = []
    for node in ast.walk(tree):
        name = (node.attr if isinstance(node, ast.Attribute) else
                node.id if isinstance(node, ast.Name) else None)
        if name not in ("environ", "getenv"):
            continue
        up = parents.get(node)
        key = None
        if name == "environ" and isinstance(up, ast.Subscript):
            key = up.slice
        elif name == "environ" and isinstance(up, ast.Attribute):
            call = parents.get(up)
            if isinstance(call, ast.Call) and call.args:
                key = call.args[0]
        elif name == "getenv" and isinstance(up, ast.Call) and up.args:
            key = up.args[0]
        out.append(key.value if isinstance(key, ast.Constant)
                   and isinstance(key.value, str) else "<dynamic>")
    return out


def test_only_deployment_env_vars_are_read():
    """Engine behaviour is set by ``CrawlConfig`` and call arguments;
    the environment only sizes the deployment (cores, driver heap)."""
    found = {}
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    for var in _env_reads(ast.parse(fh.read(), path)):
                        found.setdefault(var, []).append(
                            os.path.relpath(path, PKG))
    assert set(found) == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}, found


def test_env_reads_detects_every_form():
    src = ("import os\nfrom os import environ\n"
           "a = os.environ['A']\nb = os.environ.get('B', '1')\n"
           "c = os.getenv('C')\nd = environ.get(k)\ne = dict(os.environ)\n")
    assert sorted(_env_reads(ast.parse(src))) == [
        "<dynamic>", "<dynamic>", "A", "B", "C"]


def test_session_settings(spark):
    conf = spark.conf
    assert conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "8m"
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"

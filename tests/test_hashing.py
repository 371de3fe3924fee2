"""The md5 hash family (``functions/hashing.py``): each rule's Spark and
DuckDB renderings agree value for value, and no other module renders an
md5 slice, nibble or hex-integer cast by hand.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pytest

import nthu_cs542200_parallel_programming_hw4_mapreduce_spark as pkg
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import hashing as H

#: ASCII with runs of mixed whitespace, non-ASCII, and the empty string
STRINGS = ["abc", "  The quick \t brown\n\nfox  ", "ñ", "Ñandú  ÑU", "", "a:0"]
N_IDS = 1000


def _string_rules() -> dict[str, H.Sql]:
    d = H.md5("x")
    rules = {
        f"hex_{s}_{w}": H.hex_int(d, s, w)
        for s, w in [(1, 1), (1, 3), (1, 8), (4, 13), (1, 15), (18, 15), (25, 8)]
    }
    rules["split"] = H.split_12_2_2(d)
    rules["first_hex"] = H.first_hex_in(d, "048c")
    rules["fingerprint"] = H.fingerprint("x")
    rules["hll_j"] = H.hll_register(d, 1024)
    rules["hll_rho"] = H.hll_rank(d, 52)
    for j in range(8):
        mh = H.minhash(j)
        # Spark MINs the slice as a long; the plan formats it back to hex
        rules[f"mh{j}"] = mh._replace(spark=f"lower(lpad(hex({mh.spark}), 8, '0'))")
    for j in range(64):
        rules[f"sim{j}"] = H.simhash_bit(j)
    return rules


def _id_rules() -> dict[str, H.Sql]:
    d = H.md5_id("id")
    return {
        "hex_1_8": H.hex_int(d, 1, 8),
        "hex_1_15": H.hex_int(d, 1, 15),
        "split": H.split_12_2_2(d),
        "first_hex": H.first_hex_in(d, "048c"),
        "hll_j": H.hll_register(d, 1024),
        "hll_rho": H.hll_rank(d, 52),
    }


def _spark_rows(frame, rules, key):
    exprs = [f"{r.spark} AS {n}" for n, r in rules.items()]
    return [tuple(r) for r in frame.selectExpr(key, *exprs).orderBy(key).collect()]


def _duck_rows(con, table, rules, key):
    cols = ", ".join(f"{r.duck} AS {n}" for n, r in rules.items())
    return con.sql(f"SELECT {key}, {cols} FROM {table} ORDER BY {key}").fetchall()


def test_each_rule_agrees_across_engines(spark):
    # x is read as a plain string, as the shingle s and as the token t
    con = duckdb.connect()
    con.execute("CREATE TABLE strs (k INTEGER, x VARCHAR, s VARCHAR, t VARCHAR)")
    con.executemany(
        "INSERT INTO strs VALUES (?, ?, ?, ?)",
        [(k, x, x, x) for k, x in enumerate(STRINGS)],
    )
    con.execute(f"CREATE TABLE ids AS SELECT range AS id FROM range({N_IDS})")

    # the Spark forms of MinHash and SimHash read the digest columns the
    # plans project once per shingle or token
    strings = spark.createDataFrame(list(enumerate(STRINGS)), "k int, x string")
    strings = strings.selectExpr(
        "k", "x", "x AS s", "md5(x) AS h0"
    ).selectExpr(
        "k",
        "x",
        *[f"{H.minhash_digest(seed).spark} AS d{seed}" for seed in range(2)],
        *[f"{H.simhash_chunk(c)} AS c{c}" for c in range(4)],
    )
    rules = _string_rules()
    spark_rows = _spark_rows(strings, rules, "k")
    assert spark_rows == _duck_rows(con, "strs", rules, "k")
    assert len(spark_rows) == len(STRINGS)

    rules = _id_rules()
    spark_rows = _spark_rows(spark.range(N_IDS), rules, "id")
    assert spark_rows == _duck_rows(con, "ids", rules, "id")
    assert len(spark_rows) == N_IDS
    # 12/2/2 sixteenths of 1,000 ids: the split is not degenerate
    assert {r[3] for r in spark_rows} == {"train", "val", "test"}


def test_hex_slice_wider_than_a_signed_long_is_rejected():
    for w in (0, 16):
        with pytest.raises(ValueError):
            H.hex_int(H.md5("x"), 1, w)


_RENDERINGS = ("substr(md5(", "substring(md5(", "'0x' ||")
#: SQL names bound to an md5 digest: ``md5(x) AS fp``, and the lambda
#: variable ``h`` of ``filter(transform(xs, s -> md5(s)), h -> ...)``
_SQL_DIGEST = re.compile(r"md5\([^()]*\)\)*\s*(?:AS\s+(\w+)|,\s*(\w+)\s*->)", re.I)


def _squash(s: str) -> str:
    return "".join(s.split())


def test_md5_family_is_rendered_only_in_the_hash_module():
    """Outside ``functions/hashing.py``, no string constant in ``plans/``
    or ``functions/`` slices an md5 digest or casts hex to an integer,
    no ``conv`` call reads base 16, and no ``substring`` call slices an
    ``md5`` call. A digest held by a name is caught too: a SQL column
    or lambda variable bound to ``md5(...)`` in the same string, and a
    Python variable or lambda parameter bound to an md5 column."""
    root = Path(pkg.__file__).parent
    found = []
    for path in sorted([*root.glob("plans/*.py"), *root.glob("functions/*.py")]):
        if path.name == "hashing.py":
            continue
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = _squash(node.value)
                found += [
                    (rel, node.lineno, p) for p in _RENDERINGS if _squash(p) in text
                ]
                for m in _SQL_DIGEST.finditer(node.value):
                    name = m.group(1) or m.group(2)
                    if re.search(rf"\bsubstr(?:ing)?\(\s*{name}\s*,", node.value):
                        found.append((rel, node.lineno, f"substr({name}, ...)"))
            elif isinstance(node, ast.Call) and len(node.args) > 1:
                name, first, second = _callee(node), node.args[0], node.args[1]
                if name == "conv" and getattr(second, "value", None) == 16:
                    found.append((rel, node.lineno, "conv(..., 16, ...)"))
                if name == "substring" and _callee(first) == "md5":
                    found.append((rel, node.lineno, "substring(md5(...), ...)"))
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                digests = _digest_names(fn)
                found += [
                    (rel, node.lineno, f"substring({node.args[0].id}, ...)")
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and _callee(node) in ("substring", "substr")
                    and node.args
                    and getattr(node.args[0], "id", None) in digests
                ]
    assert found == []


def _mentions_md5(node: ast.AST, digests: set[str]) -> bool:
    return any(
        getattr(n, "attr", None) == "md5"
        or getattr(n, "id", None) == "md5"
        or getattr(n, "id", None) in digests
        for n in ast.walk(node)
    )


def _digest_names(fn: ast.AST) -> set[str]:
    """Names inside ``fn`` bound to an md5 digest column: assignment
    targets whose value mentions md5, and the parameters of a lambda
    passed to a call over such a value (``F.filter(hashes, lambda h:
    ...)``)."""
    digests: set[str] = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign) and _mentions_md5(node.value, digests):
            digests |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    for node in ast.walk(fn):
        if isinstance(node, ast.Call) and any(
            _mentions_md5(a, digests) for a in node.args if not isinstance(a, ast.Lambda)
        ):
            for lam in (a for a in node.args if isinstance(a, ast.Lambda)):
                digests |= {a.arg for a in lam.args.args}
    return digests


def _callee(node: ast.AST) -> str | None:
    f = getattr(node, "func", None)
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

"""Operator catalog: discoverability for the 300+ query surface.

A user switching from the reference (or onboarding onto this engine)
needs to answer "what can I run, and is it oracle-verified?" without
reading 19 modules. `describe_queries()` builds that table from the live
registry — key, implementing module, one-line description (the first
docstring sentence), and whether a DuckDB oracle twin gates it — and the
CLI prints it:

    python -m parquet_to_clickhouse_schema_spark.cli --list-queries
    python -m parquet_to_clickhouse_schema_spark.cli --list-queries dedup
"""

from __future__ import annotations

import ast
import operator
import sys

from parquet_to_clickhouse_schema_spark import registry

# constant-expression whitelist for docstring placeholders: a bare module
# constant, int/float literals, +-*/%//** and <</>> arithmetic, unary +/-.
# No attributes, no calls, no subscripts — a docstring is the part of
# source most likely to carry pasted external text, so it gets a narrower
# sandbox than the module code around it (ADVICE r12; eval with stripped
# __builtins__ still reached attribute access and calls on module globals).
_BIN_OPS = {
    ast.Add: operator.add,
    ast.Sub: operator.sub,
    ast.Mult: operator.mul,
    ast.Div: operator.truediv,
    ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod,
    ast.Pow: operator.pow,
    ast.LShift: operator.lshift,
    ast.RShift: operator.rshift,
}
_UNARY_OPS = {ast.UAdd: operator.pos, ast.USub: operator.neg}

# Machine-readable rows-only ↔ verified-twin mapping (r17, VERDICT r16
# task #6). Every rows-only key (a queries() entry with no oracle_sql()
# twin — approximate/iterative/string-artifact by design, SURVEY §2.3) is
# accountable to EITHER an oracle-gated mechanism twin ("q_*": a
# deterministic re-parameterization whose registers/picks/codes a DuckDB
# oracle rebuilds bit-for-bit) OR a golden test ("golden:<path>": a
# byte-exact artifact compare, used for the two DDL string emitters whose
# output is a script, not a relation). q_ivf_topk, q_pq_topk and
# q_ivfpq_topk run the same pipeline as their twins with trained instead of
# md5 parameters (operators/llm_ann._ann_search), so those gates cover the
# shipped code; the other "q_*" twins are separate implementations.
# tests/test_contract_guards.py asserts the table stays complete and that
# every named twin really is oracle-gated.
ROWS_ONLY_TWINS: dict[str, str] = {
    "q_agg_approx_distinct": "q_hll_verified",
    "q_ann_lsh_topk": "q_ann_verified_topk",
    "q_bpe_train": "q_bpe_train_verified",
    "q_ddl_clickhouse": "golden:tests/test_ddl.py",
    "q_ddl_sparksql": "golden:tests/test_ddl.py",
    "q_dedup_simhash": "q_simhash_verified",
    "q_freq_topk_sketch": "q_freq_topk_exact",
    "q_hll_sketch": "q_hll_verified",
    "q_ivf_topk": "q_ivf_verified_topk",
    "q_ivfpq_topk": "q_ivfpq_verified_topk",
    "q_kmeans_clusters": "q_kmeans_verified",
    "q_pagerank": "q_pagerank_ranks",
    "q_percentile_approx": "q_percentile",
    "q_pq_topk": "q_pq_verified_topk",
}

# Pow/LShift magnitude bound (ADVICE r13): docstrings are the surface most
# likely to carry pasted external text, and a placeholder like {2**10**8}
# would otherwise hang or memory-spike --list-queries. 64 covers every
# legitimate bit-width constant used in scale-shape docstrings (2**31 id
# guards, 1<<32 pack factors) with no room for amplification.
_MAX_EXPONENT = 64


def _const_eval(expr: str, namespace: dict) -> object:
    """Evaluate a placeholder expression under the AST whitelist above;
    raises on anything outside it (the caller leaves the token verbatim)."""

    def ev(node: ast.AST) -> object:
        if isinstance(node, ast.Expression):
            return ev(node.body)
        if isinstance(node, ast.Name):
            return namespace[node.id]  # KeyError → verbatim
        if isinstance(node, ast.Constant) and isinstance(
            node.value, (int, float)
        ):
            return node.value
        if isinstance(node, ast.BinOp) and type(node.op) in _BIN_OPS:
            left, right = ev(node.left), ev(node.right)
            if isinstance(node.op, (ast.Pow, ast.LShift)) and (
                not isinstance(right, (int, float))
                or abs(right) > _MAX_EXPONENT
                or (isinstance(left, (int, float)) and abs(left) > 2**_MAX_EXPONENT)
            ):
                raise ValueError(
                    f"placeholder exponent/shift beyond {_MAX_EXPONENT}"
                )
            return _BIN_OPS[type(node.op)](left, right)
        if isinstance(node, ast.UnaryOp) and type(node.op) in _UNARY_OPS:
            return _UNARY_OPS[type(node.op)](ev(node.operand))
        raise ValueError(f"disallowed placeholder syntax: {ast.dump(node)}")

    return ev(ast.parse(expr, mode="eval"))


def _resolve_placeholders(text: str, namespace: dict) -> str:
    """str.format-parity scan (ADVICE r12): `{{`/`}}` are consumed as
    escape pairs FIRST (left to right, exactly like the format spec), so
    `{{TOKEN}}` renders the literal `{TOKEN}` with no substitution, while
    a real token nested inside escapes — `y_{{h−{SEASON}}}` — still
    resolves its inner `{SEASON}`. Tokens that fail the _const_eval
    whitelist (math notation like `{t-1}`) stay verbatim."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "{":
            if text.startswith("{{", i):
                out.append("{")
                i += 2
                continue
            j = text.find("}", i + 1)
            if j == -1 or "{" in text[i + 1 : j]:
                out.append(c)
                i += 1
                continue
            expr, has_spec, spec = text[i + 1 : j].partition(":")
            try:
                val = _const_eval(expr, namespace)
                out.append(format(val, spec) if has_spec else str(val))
            except Exception:
                out.append(text[i : j + 1])
            i = j + 1
            continue
        if text.startswith("}}", i):
            out.append("}")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _first_sentence(doc: str, module_name: str) -> str:
    """First sentence of the first docstring paragraph, with any
    ``{CONSTANT}`` placeholders resolved against the defining module's
    globals (many operator docstrings reference module constants like
    NOVELTY_N without being f-strings — the catalog must not print raw
    template tokens).

    Resolution is per-token, not whole-string str.format (ADVICE r11): a
    single expression placeholder like ``{CDC_MASK + 1}`` used to KeyError
    the format call and leave EVERY token in the string raw. Each token is
    evaluated independently under a constant-expression AST whitelist
    (bare module constants + arithmetic — see _const_eval); tokens that
    don't resolve — math notation like ``y_{t-1}`` — are left verbatim,
    and ``{{...}}`` escapes round-trip to their literal braces."""
    first = doc.split("\n\n", 1)[0].replace("\n", " ")
    first = " ".join(first.split())
    if "{" in first:
        mod = sys.modules.get(module_name)
        if mod is not None:
            first = _resolve_placeholders(first, dict(vars(mod)))
    # sentence cut: the first ". " ends it ("e.g." style abbreviations are
    # not used at sentence heads in this codebase); keep em-dash clauses
    cut = first.find(". ")
    if cut != -1:
        first = first[: cut + 1]
    return first


def describe_queries(filter_substr: str | None = None) -> list[dict]:
    """One row per registered query key, sorted by key.

    Fields: key, module (short name), description (first docstring
    sentence, placeholder-resolved), oracle (True when a DuckDB twin
    hash-gates the key), twin (for rows-only keys: the oracle-gated
    mechanism twin key, or `golden:<test path>` for byte-exact string
    artifacts — see ROWS_ONLY_TWINS; None for oracle-gated keys).
    `filter_substr` (case-insensitive) narrows on key or description.
    """
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    out: list[dict] = []
    for key in sorted(queries):
        fn = queries[key]
        first = _first_sentence((fn.__doc__ or "").strip(), fn.__module__)
        row = {
            "key": key,
            "module": fn.__module__.rsplit(".", 1)[-1],
            "description": first,
            "oracle": key in oracles,
            "twin": None if key in oracles else ROWS_ONLY_TWINS.get(key),
        }
        if filter_substr:
            s = filter_substr.lower()
            if s not in key.lower() and s not in first.lower():
                continue
        out.append(row)
    return out


def format_catalog(rows: list[dict]) -> str:
    """Plain-text table for the CLI."""
    lines = []
    n_gated = sum(1 for r in rows if r["oracle"])
    lines.append(
        f"{len(rows)} queries ({n_gated} oracle-gated, "
        f"{len(rows) - n_gated} rows-only)"
    )
    for r in rows:
        mark = "oracle" if r["oracle"] else "rows  "
        desc = r["description"]
        if len(desc) > 100:
            desc = desc[:97] + "..."
        twin = f" twin={r['twin']}" if r.get("twin") else ""
        lines.append(f"{r['key']:32s} {mark}{twin}  [{r['module']}] {desc}")
    return "\n".join(lines) + "\n"

"""Tree lint: every top-level function and class of the program has a
caller in the program.

The program is the package, ``bench.py``, ``__spark_entry__.py`` and
``perfbench/``; tests are not callers. A definition counts as called
when its name appears outside its own definition as a NAME token or as
a name inside an f-string expression, so comments and docstrings do
not count. ``@register``ed queries are reached through the registry
and are skipped. A definition that only tests call stays only with a
reason in ``ALLOWED``.

Also: no module under ``protocols/`` or ``sources/`` imports pandas."""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize
from collections import Counter, defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent

ALLOWED = {
    # reference operators (SURVEY §2) whose callers are tests
    "write_jdbc": "S8 chunked JDBC bulk insert (test_jdbc_roundtrip.py)",
    "with_epoch_columns": "S8 storage-schema parity: epoch seconds + micros",
    "frames_list_as_string": "S8 storage-schema parity: space-joined frames_list",
    "pending_files": "S10/S11 ledger queue read side; ROADMAP item 8 gives it the CLI",
    "transaction_stats": "A3 per-file read / saved-transaction counts",
    "order_by_transaction": "O1 transaction ordering",
    "order_by_frame": "O2 global frame-order restore",
    "exclude_cidrs": "O4 IP exclusion filter",
    "stream_dedup": "O3 streaming dedup",
    "filter_transactions_str": "J7 display-filter string entry point",
    "split_errors": "§2.8 clean/error row split",
    "stream_correlate_diameter": "§2.9 J1 streaming correlation",
    "stream_neardup_dedup": "§2.9 streaming near-dup dedup; stream_neardup_parity pins its keep rule",
    # references the tests check an engine path against
    "embedding_near_dup_exact": "exact reference for the embedding_near_dup recall test",
    "_ham_word_spark": "interpreted Hamming fold the _vec_np kernel is checked against",
    # capture generators shared with the tests (tests/pcapgen.py)
    "sctp_control": "capturegen helper for SCTP control-chunk tests",
    "tcap_return_error": "capturegen helper for TCAP return-error tests",
    "pcapng": "capturegen helper for pcapng tests",
    # called from outside the program
    "oracle_sql": "__spark_entry__.py contract, called by the external verifier",
}


def _program_files() -> list[pathlib.Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for base in ("ingestor_etl_spark", "perfbench"):
        files += sorted((ROOT / base).rglob("*.py"))
    return files


def _names(src: str) -> list[tuple[str, int]]:
    """(name, line) of every NAME token, and of every name inside an
    f-string expression (one STRING token before Python 3.12)."""
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            out.append((tok.string, tok.start[0]))
        elif tok.type == tokenize.STRING and "f" in tok.string[: tok.string.index(tok.string[-1])].lower():
            for node in ast.walk(ast.parse(tok.string, mode="eval")):
                if isinstance(node, ast.Name):
                    out.append((node.id, tok.start[0]))
                elif isinstance(node, ast.Attribute):
                    out.append((node.attr, tok.start[0]))
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def _uncalled() -> dict[str, str]:
    """name -> defining file of each top-level definition named
    nowhere in the program outside its own definition."""
    total: Counter[str] = Counter()
    lines: dict[tuple[pathlib.Path, str], list[int]] = defaultdict(list)
    defs = []
    for path in _program_files():
        src = path.read_text()
        for name, line in _names(src):
            total[name] += 1
            lines[path, name].append(line)
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not _is_registered(node):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.append((path, node.name, first, node.end_lineno))
    uncalled = {}
    for path, name, first, last in defs:
        own = sum(first <= line <= last for line in lines[path, name])
        if total[name] == own:
            uncalled[name] = str(path.relative_to(ROOT))
    return uncalled


def test_every_definition_has_a_caller_or_a_reason():
    uncalled = _uncalled()
    unexplained = {n: f for n, f in uncalled.items() if n not in ALLOWED}
    assert not unexplained, f"no caller outside tests, no reason in ALLOWED: {unexplained}"
    # an entry whose definition gained a caller, or is gone, leaves the list
    stale = sorted(set(ALLOWED) - set(uncalled))
    assert not stale, f"ALLOWED entries that have a caller or no definition: {stale}"


def _imports_pandas(src: str) -> bool:
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import) and any(a.name.split(".")[0] == "pandas" for a in node.names):
            return True
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
            return True
    return False


def test_decode_path_does_not_import_pandas():
    """Decode walks run on Arrow batches (``protocols.map_rows`` /
    ``map_files``) and see ``None`` for NULL; no pandas frame sits
    between a capture and its decoded rows."""
    pkg = ROOT / "ingestor_etl_spark"
    files = sorted((pkg / "protocols").rglob("*.py")) + sorted((pkg / "sources").rglob("*.py"))
    assert files
    offenders = [str(p.relative_to(ROOT)) for p in files if _imports_pandas(p.read_text())]
    assert not offenders, offenders

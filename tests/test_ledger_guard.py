"""Round-ledger and source-hygiene guards (VERDICT r9 items 1 & 4).

Round 9 shipped ROUND9.md with its nine round-close battery cells still
holding ``{PLACEHOLDER}`` template tokens — the round's own ledger was not
judge-readable and the judge had to re-run the battery to establish what
the file should have attested.  These guards make that class of lapse a
red test instead of a judge finding:

* ``test_round_ledgers_have_no_unfilled_placeholders`` — no committed
  ROUND*.md may contain a ``{UPPER_SNAKE}`` template token.  Authoring
  discipline: write battery cells only when the numbers exist; a
  template with placeholders cannot survive a green pytest run.
* ``test_no_invalid_escape_sequences`` — every repo .py must compile
  clean of invalid-escape DeprecationWarning/SyntaxWarning (the r9
  ``'\\S'`` in the scan_csv_multiline oracle; a future Python makes these
  a hard error).  Scoped to escape warnings via fresh ``compile()`` of
  the source text, NOT a blanket -W error (pyspark/pandas internals
  legitimately emit unrelated DeprecationWarnings).
"""

from __future__ import annotations

import re
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PLACEHOLDER = re.compile(r"\{[A-Z][A-Z0-9_]*\}")


def test_round_ledgers_have_no_unfilled_placeholders():
    offenders: dict[str, list[str]] = {}
    for md in sorted(ROOT.glob("ROUND*.md")):
        hits = _PLACEHOLDER.findall(md.read_text())
        if hits:
            offenders[md.name] = sorted(set(hits))
    assert not offenders, (
        "round ledger committed with unfilled template placeholders — "
        f"fill the battery cells with real results first: {offenders}"
    )


def _py_files():
    for sub in ("datafusion_test_spark", "tests", "tools"):
        yield from sorted((ROOT / sub).rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def test_no_invalid_escape_sequences():
    offenders = []
    for py in _py_files():
        src = py.read_text()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            try:
                # fresh compile re-triggers compile-time escape warnings
                # even for already-imported modules
                compile(src, str(py), "exec")
            except SyntaxError as exc:  # pragma: no cover - broken source
                offenders.append((str(py), f"SyntaxError: {exc}"))
                continue
        for w in caught:
            if "invalid escape sequence" in str(w.message):
                offenders.append((str(py.relative_to(ROOT)), str(w.message)))
    assert not offenders, (
        "invalid escape sequence(s) — use raw strings for regex/SQL "
        f"literals: {offenders}"
    )


def test_round_bench_records_attest_a_same_session_pair():
    """VERDICT r10 item 4: single-run cross-round bench numbers carry no
    signal (identical r9 code measured 201.95 s at r9 close vs 128.92 s
    one round later — a 1.57x spread from box state alone).  From round
    11 on, any ROUND*.md that reports a headline bench number must attest
    a same-session prior-HEAD baseline pair: the word "paired" plus a
    pointer to the baseline record (tools/bench_pair_baseline_*.json from
    `python bench.py --pair <rev>`, or another tools/bench_*.json run in
    the same session)."""
    offenders = []
    for md in sorted(ROOT.glob("ROUND*.md")):
        n = int("".join(c for c in md.stem if c.isdigit()) or 0)
        if n < 11:
            continue  # grandfathered: the discipline starts at r11
        text = md.read_text()
        if "headline" not in text.lower():
            continue  # no bench cell yet (ledger still in progress)
        if "paired" not in text.lower() or "tools/bench_" not in text:
            offenders.append(md.name)
    assert not offenders, (
        "bench cell without a same-session baseline pair — run "
        f"`python bench.py --pair <prior-HEAD>` and cite it: {offenders}"
    )


def test_round_ledgers_attest_a_scale10_sweep():
    """VERDICT r13 item 6: the 10x scale sweep is the only gate that has
    caught the O(len²) class (r9, r13 — three sites each time, every one
    invisible to hash checks and priced as 'fine' by every smaller
    corpus).  From round 14 on, any closing ROUND*.md (one that reports
    a headline bench number) must also attest a scale10 sweep run on
    final product code: the token "scale10" plus a pointer to the sweep
    record (tools/scale10_sweep*.jsonl) plus the no-undeclared-regression
    attestation word "undeclared" (as in "no undeclared entry >10x",
    covering both regression and absence of new entries from the
    sweep)."""
    offenders = []
    for md in sorted(ROOT.glob("ROUND*.md")):
        n = int("".join(c for c in md.stem if c.isdigit()) or 0)
        if n < 14:
            continue  # the standing gate starts at r14
        text = md.read_text()
        if "headline" not in text.lower():
            continue  # not a closing ledger yet
        if (
            "scale10" not in text
            or "tools/scale10_sweep" not in text
            or "undeclared" not in text.lower()
        ):
            offenders.append(md.name)
    assert not offenders, (
        "closing round ledger without a scale10 sweep attestation — run "
        "`python tools/scale10_sweep.py` on final product code and attest "
        f"'no undeclared entry >10x' citing the jsonl record: {offenders}"
    )


def test_no_per_index_substring_inside_transform_sequence():
    """Scale ratchet for r9-disease entry point SIX, found by the r13
    10x sweep (tools/scale10_sweep.py): chunking text via
    ``transform(sequence(1, n), k -> substring(text, (k-1)*L+1, L))`` is
    an INTERPRETED HOF whose every substring seeks O(k·L) code points
    from the string start (UTF8String.substring has no byte index) —
    O(len²) per document; a 1-2.5 MB doc pinned an executor thread for
    15+ minutes.  The linear shape is ONE regex scan:
    ``regexp_extract_all(text, '(?s).{L}')`` (full blocks) or
    ``'(?s).{1,L}'`` (ceil segmentation incl. the tail) — identical
    code-point chunks, O(len).  This guard fails any package source that
    re-introduces a substring call inside a transform-over-sequence
    lambda, in either the SQL-string or the pyspark-Column form."""
    import ast

    offenders = []
    pkg = ROOT / "datafusion_test_spark"
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text())
        docstrings = set()
        for node in ast.walk(tree):
            if isinstance(
                node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                       ast.ClassDef)
            ) and (
                node.body
                and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)
                and isinstance(node.body[0].value.value, str)
            ):
                docstrings.add(id(node.body[0].value))
        for node in ast.walk(tree):
            # SQL-string form: one string literal carrying both the
            # transform(sequence(...)) opener and a substring( lambda body
            # (docstrings exempt — they may DESCRIBE the forbidden shape)
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                s = node.value.lower()
                if "transform(sequence" in s and "substring(" in s:
                    offenders.append((str(py.relative_to(ROOT)), "sql",
                                      node.lineno))
            # Column-DSL form: F.transform(F.sequence(...), lambda ...:
            # ... F.substring(...) ...)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "transform"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and isinstance(node.args[0].func, ast.Attribute)
                and node.args[0].func.attr == "sequence"
            ):
                for sub in ast.walk(node):
                    if (
                        isinstance(sub, ast.Call)
                        and isinstance(sub.func, ast.Attribute)
                        and sub.func.attr == "substring"
                    ):
                        offenders.append((str(py.relative_to(ROOT)), "dsl",
                                          node.lineno))
                        break
    assert not offenders, (
        "O(len²) per-index substring inside a transform(sequence(...)) "
        "lambda — use one regexp_extract_all scan instead "
        f"(see dedup_chunk): {offenders}"
    )


def test_chunking_rewrites_match_the_lambda_semantics(spark):
    """Equivalence pin for the r13 linear chunking rewrite: on an
    adversarial pool (astral code points, combining marks, newlines,
    CR/LF, U+2028, empty string, exact-multiple and off-by-one lengths)
    the regexp_extract_all chunks must equal the old
    transform(sequence)/substring chunks element-for-element — full
    40-blocks for dedup_chunk's shape, ceil segmentation for
    dedup_paragraph's / text_boilerplate_strip's."""
    texts = [
        "",
        "short",
        "x" * 40,
        "x" * 41,
        "x" * 399,
        "x" * 400,
        ("ab c\n" * 25)[:97],
        "línea ñ𝕊𝕋" * 13,          # astral + combining-adjacent
        ("é" * 50),            # combining marks across boundaries
        "a b c\rd\ne" * 20,  # line separators inside chunks
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    # the old lambdas carry the operators' original guards: Spark's
    # sequence(1, 0) is DESCENDING, so an unguarded empty/short text
    # produced garbage — the guards were load-bearing in the old shape
    for L, (new_expr, old_expr) in {
        40: (
            "regexp_extract_all(text, '(?s).{40}', 0)",
            "CASE WHEN length(text) >= 40 THEN"
            " transform(sequence(1, cast(length(text) div 40 as int)),"
            " k -> substring(text, (k-1)*40+1, 40))"
            " ELSE cast(array() as array<string>) END",
        ),
        60: (
            "regexp_extract_all(text, '(?s).{1,60}', 0)",
            "CASE WHEN length(text) > 0 THEN"
            " transform(sequence(1, cast(ceil(length(text) / 60.0) as int)),"
            " k -> substring(text, (k-1)*60+1, 60))"
            " ELSE cast(array() as array<string>) END",
        ),
    }.items():
        rows = df.selectExpr(
            f"{new_expr} AS new", f"{old_expr} AS old"
        ).collect()
        for r, t in zip(rows, texts):
            assert r["new"] == r["old"], (L, t[:30], r)


def test_bench_summary_line_is_compact_and_self_contained():
    """VERDICT r12 item 4 / r13 item 3: the driver keeps the LAST ~2000
    chars of stdout, so the summary must be the FINAL stdout line (r13's
    summary-FIRST placement still left BENCH_r13.json ``"parsed": null`` —
    the tail was the head-truncated record line).  Pin the fix: the summary
    is compact (< 2 KB), self-contained — headline/layout totals, query
    counts, machine block, top-10 slowest — printed AFTER the full
    per-query record, and --pair locates the record line by CONTENT
    (queries map, no summary marker), never by position."""
    import json
    import sys

    sys.path.insert(0, str(ROOT))
    import bench

    # Synthetic full record at realistic scale: 220 headline queries with
    # long names — the size class that overflowed the driver's capture.
    queries = {f"eval_confound_consensus_variant_{i:03d}": i * 0.017 for i in range(220)}
    record = {
        "metric": "headline_wall_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "layout_queries": {f"layout_{i}": 1.0 for i in range(6)},
        "layout_wall_sec": 6.0,
        "sf": 0.1,
        # every headline query failing its warm-up: the full record keeps
        # each name and exception type, the summary only their count
        "warmup_failures": {name: "Py4JJavaError" for name in queries},
        "machine": {
            "cpus": 32,
            "spark_cpus": "32",
            "load1_start": 0.42,
            "load1_end": 17.3,
            "load1_high": False,
        },
        "paired_baseline": {
            "rev": "0" * 40,
            "headline_wall_sec": 132.467,
            "load1_start": 0.0,
            "json": "tools/bench_pair_baseline_000000000.json",
        },
    }
    line = json.dumps(bench.summary_record(record))
    assert len(line.encode()) < 2048, f"summary line {len(line)} B >= 2 KB"
    summary = json.loads(line)  # self-contained: one parseable line
    assert summary["summary"] is True
    assert summary["value"] == record["value"]
    assert summary["n_queries"] == 220
    assert summary["warmup_failures"] == 220
    assert summary["layout_wall_sec"] == 6.0
    assert summary["machine"] == record["machine"]
    assert summary["paired_baseline"]["headline_wall_sec"] == 132.467
    assert len(summary["top10_slowest"]) == 10
    assert max(queries, key=queries.get) in summary["top10_slowest"]
    # the giant per-query maps must NOT be in the summary line
    assert "queries" not in summary and "layout_queries" not in summary
    assert "Py4JJavaError" not in line
    # print-order contract: the summary closes stdout (the driver's
    # 2000-char tail capture must land on it), full record printed BEFORE
    src = (ROOT / "bench.py").read_text()
    assert src.index("print(json.dumps(record))") < src.index(
        "json.dumps(summary_record(record))"
    )
    # --pair locates the full record by content in EITHER print order
    # (old baseline revs print record-last, current code record-first),
    # skipping the summary line and non-JSON noise
    rec_line = json.dumps(record)
    sum_line = json.dumps(bench.summary_record(record))
    for stdout in (
        f"warn: noise\n{rec_line}\n{sum_line}\n",
        f"{sum_line}\n{rec_line}\n",
        f"{rec_line}\n",
    ):
        found = bench._full_record_from_stdout(stdout)
        assert found is not None and found["queries"] == record["queries"]
    assert bench._full_record_from_stdout(f"{sum_line}\n") is None


def test_bench_pair_flag_requires_an_argument():
    """ADVICE r11: `bench.py --pair` without a rev used to die with a
    bare IndexError deep in argv slicing.  Pin the contract: it must
    exit nonzero with a usage message BEFORE any Spark/bench work."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "--pair"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert "--pair requires a git rev" in (proc.stderr + proc.stdout)
    assert "Traceback" not in proc.stderr

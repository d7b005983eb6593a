"""Unit tests for the static audit tools — they gate every round's
close-out claims, so their parsers get the same regression coverage as
product code.

1. ``explain_audit``'s formatted-plan Window parser: empty specs are
   OMITTED from the Arguments line, so a 2-group line is ambiguous and
   must classify by the order spec's NULLS FIRST/LAST markers —
   partitioned-no-order windows (2 groups, bare expressions) must NOT
   be flagged, unpartitioned-with-order (2 groups with sort markers)
   and global-frame (1 group) must.
2. ``broadcast_audit``'s balanced-paren extraction: nested calls,
   multi-line arguments (whitespace-normalized keys), repeated sites
   counted, and the allowlist review/stale partitioning.
3. ``sub_placeholder`` property: for ANY identifier pair where one is
   a strict prefix of the other, substituting the shorter never
   corrupts the longer placeholder (hypothesis-driven).
"""
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"),
)


def _win_plan(args_line: str) -> str:
    return f"(5) Window\nInput [2]: [a, b]\n{args_line}\n(6) Sort\n"


def test_explain_audit_window_parser_classification():
    from explain_audit import unpartitioned_windows

    # unpartitioned WITH order: 2 groups, sort markers in the second
    p = _win_plan(
        "Arguments: [row_number() windowspecdefinition(id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#2], [id#0L ASC NULLS FIRST]"
    )
    assert len(unpartitioned_windows(p)) == 1

    # partitioned WITHOUT order: 2 groups, bare partition expressions —
    # the ambiguous shape that must NOT be flagged
    p = _win_plan(
        "Arguments: [sum(id#0L) windowspecdefinition(g#1L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS s#2L], [g#1L]"
    )
    assert unpartitioned_windows(p) == []

    # partitioned WITH order: 3 groups — never flagged
    p = _win_plan(
        "Arguments: [row_number() windowspecdefinition(g#1L, id#0L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS rn#4], [g#1L], "
        "[id#0L ASC NULLS FIRST]"
    )
    assert unpartitioned_windows(p) == []

    # global frame, no order: 1 group
    p = _win_plan(
        "Arguments: [max(x#3) windowspecdefinition(specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS m#4]"
    )
    assert unpartitioned_windows(p) == ["<global frame>"]

    # WindowGroupLimit headers are NOT Window nodes (their Arguments
    # lead with the limit, not a bracket group) — ignored
    p = ("(7) WindowGroupLimit\nArguments: 3, [cnt#2L DESC NULLS LAST], "
         "[g#1L, cnt#2L]\n")
    assert unpartitioned_windows(p) == []


def test_explain_audit_bracket_groups_nested():
    from explain_audit import _top_bracket_groups

    groups = _top_bracket_groups(
        "Arguments: [f(x#1, g[h[2]]) AS y#3], [a#4 ASC NULLS FIRST, "
        "b#5 DESC NULLS LAST]"
    )
    assert len(groups) == 2
    assert groups[0] == "f(x#1, g[h[2]]) AS y#3"
    assert "NULLS LAST" in groups[1]


def test_broadcast_audit_scan_extraction(tmp_path):
    from broadcast_audit import scan

    src = tmp_path / "mod.py"
    src.write_text(
        "df.join(F.broadcast(cent), 'cid')\n"
        "df.join(F.broadcast(cent), 'cid2')\n"   # same site key, x2
        "df.join(F.broadcast(\n"
        "    tbl.select('a', f(x, (y)))\n"       # multi-line + nesting
        "), 'k')\n"
        "no_match = G.broadcast(other)\n"        # not F.broadcast
    )
    sites = scan(str(tmp_path))
    assert ("mod.py", "cent", 2) in sites
    assert ("mod.py", "tbl.select('a', f(x, (y)))", 1) in sites
    assert all(a != "other" for _, a, _ in sites)


def test_broadcast_audit_live_tree_clean():
    """The committed allowlist matches the committed tree exactly:
    nothing to review, nothing stale."""
    from broadcast_audit import ALLOWED, scan

    sites = scan()
    present = {(f, a) for f, a, _ in sites}
    assert present - set(ALLOWED) == set(), "unreviewed broadcast sites"
    assert set(ALLOWED) - present == set(), "stale allowlist entries"


def test_sub_placeholder_prefix_property():
    """For any identifier pair (short, long) with short a strict prefix
    of long, substituting @short never touches @long."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from arcane_framework_spark.sources.rest import sub_placeholder

    ident = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1,
        max_size=8,
    ).filter(lambda s: not s[0].isdigit())
    suffix = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1,
        max_size=4,
    )

    @settings(max_examples=200, deadline=None)
    @given(short=ident, extra=suffix, value=st.text(max_size=8))
    def check(short, extra, value):
        long = short + extra
        template = f"a=@{short}&b=@{long}&c=@{short}"
        out = sub_placeholder(template, short, value)
        assert out == f"a={value}&b=@{long}&c={value}"

    check()


def test_bench_line_fits_and_states_its_host():
    """bench.py's printed line stays within the captured stdout window for
    the whole catalog while carrying cpus/master/sf_dir: the fast tail of
    ``queries`` is trimmed (and counted), never the summary fields."""
    import json

    import bench

    n = 243
    queries = {f"catalog_entry_with_a_long_name_{i:03d}": round(100.0 - i / 7, 3)
               for i in range(n)}
    payload = {
        "metric": "catalog_total_runtime", "value": 1234.567, "unit": "sec",
        "queries": queries, "sf": 0.1, "n_queries": n,
        "full": "BENCH_FULL.json", "cpus": 4, "master": "local[4]",
        "sf_dir": "/data/testdata/sf0.1",
        "errors": {"broken_entry": "RuntimeError: " + "x" * 66},
    }
    line = bench.fit_line(payload)
    assert len(line) <= bench.MAX_LINE
    got = json.loads(line)
    assert (got["cpus"], got["master"], got["sf_dir"]) == (
        4, "local[4]", "/data/testdata/sf0.1")
    assert got["value"] == 1234.567 and got["errors"] == payload["errors"]
    kept = list(got["queries"])
    assert kept == list(queries)[:len(kept)]  # slowest first, tail dropped
    assert got["omitted_fast_queries"] == n - len(kept) > 0

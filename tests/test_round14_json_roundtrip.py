"""Round-14 JSON ingest content fuzz (VERDICT r13 item 4): scan_csv_json's
JSON half and the props round trip get the sink_csv treatment — hostile-
but-legal string content through write/read, plus oracle parity for the
ingest operator on a hostile synthetic nation table.

Probe results that shape this file (Spark 4.1, r14):

- The DEFAULT JSON-lines writer/reader round-trips every hostile string
  shape EXACTLY — embedded newlines/CRLF, '', NULL (field omitted on
  write, NULL again under the explicit read schema), padding, tabs,
  backslashes, JSON-in-JSON with escaped quotes, NUL and other control
  bytes, U+2028/U+2029 separators, emoji surrogate pairs, 5 KB values.
  No option hardening needed: the format escapes everything. (Contrast
  r13's CSV campaign, which needed four non-default options.)
- The CSV half of scan_csv_json now carries sink_csv's hardened option
  set (this round; supersedes the r13 "defaults fine for [A-Z ]+ names"
  adjudication) so the INGEST operator round-trips arbitrary content,
  with the same documented \\N-sentinel residue.
- A malformed line inside a JSON input file must degrade, not abort:
  Spark's default PERMISSIVE mode yields an all-NULL row per corrupt
  line — pinned below, since one torn record in 100 TB of JSON logs
  must not kill the scan.
"""

from __future__ import annotations

import pytest
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def rt_root(tmp_path_factory):
    """One pytest-managed directory per module; each round trip writes a
    fresh subdirectory of it (the returned frames read lazily, and the
    hypothesis tests call the helper once per example)."""
    return tmp_path_factory.mktemp("json_rt")


def _roundtrip_json(spark, root, rows):
    """rows: (id, s) through the DEFAULT json write/read hop — exactly the
    options scan_csv_json's JSON half uses (none)."""
    df = spark.createDataFrame(rows, "id bigint, s string")
    d = tempfile.mkdtemp(dir=root) + "/out"
    df.coalesce(1).write.mode("overwrite").json(d)
    return df, spark.read.schema("id bigint, s string").json(d)


_PINNED_ROWS = [
    (1, "plain"),
    (2, "a,b"),
    (3, 'say "hi"'),
    (4, "line1\nline2"),
    (5, "a\r\nb"),
    (6, ""),
    (7, None),
    (8, "héllo 日本語 データ"),
    (9, "  padded  "),
    (10, "a\tb"),
    (11, "c:\\path\\n"),
    (12, '{"k": 5}'),                      # JSON-in-JSON (the props shape)
    (13, '{"k": "nested \\"quoted\\""}'),
    (14, "null"),                          # looks like a JSON literal
    (15, "\\N"),                           # the CSV sentinel — fine in JSON
    (16, "ctrl\x01\x1fchar"),
    (17, "zero\x00byte"),
    (18, "\u2028line\u2029sep"),           # JS-hostile separators
    (19, "x" * 5000),
    (20, "emoji 😀 pair"),
]


def test_json_lines_roundtrip_hostile_content_exactly(spark, rt_root):
    orig, back = _roundtrip_json(spark, rt_root, _PINNED_ROWS)
    o = {r.id: r.s for r in orig.collect()}
    g = {r.id: r.s for r in back.collect()}
    assert o == g, {k: (o.get(k), g.get(k)) for k in set(o) | set(g)
                    if o.get(k) != g.get(k)}


_TOKEN = st.sampled_from(
    ["a", "b,c", '"q"', "x\ny", " pad ", "日本", "\t", "\\", "{}",
     '{"k": 1}', "null", "\\N", "\x00", "\u2028", "😀", ""]
)
_VALUE = st.one_of(
    st.none(),
    st.lists(_TOKEN, min_size=0, max_size=6).map("".join),
)
_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50), _VALUE),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@pytest.mark.soak
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_ROWS)
def test_json_lines_roundtrip_is_identity_on_fuzzed_content(spark, rt_root, rows):
    orig, back = _roundtrip_json(spark, rt_root, rows)
    o = {r.id: r.s for r in orig.collect()}
    g = {r.id: r.s for r in back.collect()}
    assert o == g


def test_json_reader_is_permissive_on_corrupt_lines(spark, tmp_path):
    """One torn/garbage record inside a JSON shard degrades to an all-NULL
    row (default PERMISSIVE mode) instead of aborting the scan, and the
    well-formed neighbours come through exactly."""
    f = tmp_path / "part-00000.json"
    f.write_text(
        '{"id": 1, "s": "good"}\n'
        '{"id": 2, "s": "torn\n'            # torn record
        "not json at all\n"                  # garbage line
        '{"id": 3}\n'                        # missing field -> NULL s
        '{"id": 4, "s": "also good"}\n'
    )
    back = spark.read.schema("id bigint, s string").json(str(tmp_path))
    rows = {tuple(r) for r in back.collect()}
    assert (1, "good") in rows and (4, "also good") in rows
    assert (3, None) in rows
    # the two corrupt lines each become an all-NULL row, nothing more
    assert sorted(rows - {(1, "good"), (4, "also good"), (3, None)}) == [
        (None, None),
    ]


# -- the ingest operator end-to-end on hostile nation content ----------------

#: hostile nation names: every shape the r13/r14 campaigns probed, minus
#: the \N sentinel (documented CSV residue) — the operator must reproduce
#: the synthetic table exactly through BOTH text hops and the join
_HOSTILE_NATIONS = [
    (0, "ALGERIA", 0),
    (1, "a,b", 1),
    (2, 'say "hi"', 1),
    (3, "line1\nline2", 2),
    (4, "", 2),
    (5, None, 3),
    (6, "  padded  ", 3),
    (7, "héllo 日本語", 4),
    (8, '{"k": 5}', 0),
    (9, "a\tb\\c", 0),
]


def test_scan_csv_json_matches_oracle_on_hostile_nation(spark, tmp_path):
    d = str(tmp_path)
    spark.createDataFrame(
        _HOSTILE_NATIONS, "n_nationkey int, n_name string, n_regionkey int"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/nation.parquet")

    from .test_round10_properties import _oracle_parity

    _oracle_parity(spark, d, ("scan_csv_json",))

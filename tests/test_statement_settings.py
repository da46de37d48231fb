"""The dialect's honored ClickHouse settings (splitBy* remainder mode,
formatDateTime %M, max_fold_group_rows) are ONE value per
translate_ch_sql call: a SETTINGS tail or a session SET changes the
statement it belongs to, never a statement running at the same time
in another thread or session."""

from __future__ import annotations

import sys
import threading

import pytest

from clickhouse_arrow_spark.dialect import translate_ch_sql

_SPLIT = "SELECT splitByChar(',', s, 2) FROM t"
_FMT = "SELECT formatDateTime(d, '%M') FROM t"
_FOLD = "SELECT entropy(x) FROM t"

#: (statement without, statement with) a result-changing SETTINGS tail
PAIRS = {
    "splitby": (
        _SPLIT,
        _SPLIT + " SETTINGS "
        "splitby_max_substrings_includes_remaining_string = 1",
    ),
    "formatdatetime_m": (
        _FMT,
        _FMT + " SETTINGS formatdatetime_parsedatetime_m_is_month_name = 0",
    ),
    "max_fold_group_rows": (
        _FOLD,
        _FOLD + " SETTINGS max_fold_group_rows = 5",
    ),
}


def _race(fns: list, n: int) -> list[list]:
    """Run each fn n times, all fns in their own thread at once; the
    results per fn. A short switch interval makes the threads
    interleave inside single calls."""
    out: list[list] = [[] for _ in fns]
    start = threading.Barrier(len(fns))

    def loop(i):
        start.wait(timeout=60)
        for _ in range(n):
            out[i].append(fns[i]())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=loop, args=(i,)) for i in range(len(fns))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert [len(o) for o in out] == [n] * len(fns)
    return out


@pytest.mark.parametrize("name", sorted(PAIRS))
def test_settings_tail_never_reaches_another_thread(name):
    plain, tailed = PAIRS[name]
    want_plain = translate_ch_sql(plain)
    want_tailed = translate_ch_sql(tailed)
    assert want_plain != want_tailed
    # three threads of each statement at once
    wants = [want_tailed, want_plain] * 3
    got = _race(
        [lambda: translate_ch_sql(tailed), lambda: translate_ch_sql(plain)]
        * 3,
        300,
    )
    wrong = sum(g != w for w, gs in zip(wants, got) for g in gs)
    assert wrong == 0, f"{wrong} of 1800 {name} translations were wrong"


def test_settings_argument_and_tail_override():
    from clickhouse_arrow_spark.dialect import DialectSettings

    legacy = DialectSettings(splitby_includes_remaining=True)
    assert translate_ch_sql(_SPLIT) == (
        "SELECT slice(split(s, ',', 3), 1, 2) FROM t"
    )
    assert translate_ch_sql(_SPLIT, settings=legacy) == (
        "SELECT split(s, ',', IF((2) <= 0, -1, 2)) FROM t"
    )
    # a SETTINGS tail replaces the passed value for its own statement
    assert translate_ch_sql(
        _SPLIT + " SETTINGS "
        "splitby_max_substrings_includes_remaining_string = 0",
        settings=legacy,
    ) == translate_ch_sql(_SPLIT)
    # and the value ends with the call
    assert translate_ch_sql(_SPLIT) == translate_ch_sql(
        _SPLIT, settings=DialectSettings()
    )


def test_tail_parse_rules():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    assert "MMMM" in translate_ch_sql(
        _FMT + " SETTINGS formatdatetime_parsedatetime_m_is_month_name = "
        "'TRUE'"
    )
    # the fold limit clamps to 1 and must be an integer
    assert "> 1 THEN" in translate_ch_sql(
        _FOLD + " SETTINGS max_fold_group_rows = 0"
    )
    with pytest.raises(UntranslatableFunctionError, match="integer"):
        translate_ch_sql(_FOLD + " SETTINGS max_fold_group_rows = many")


@pytest.mark.parametrize(
    "conf,want",
    [
        ({}, {}),
        ({"splitby_max_substrings_includes_remaining_string": "true"},
         {"splitby_includes_remaining": True}),
        ({"splitby_max_substrings_includes_remaining_string": "yes"}, {}),
        ({"formatdatetime_parsedatetime_m_is_month_name": "0"},
         {"m_is_month_name": False}),
        ({"formatdatetime_parsedatetime_m_is_month_name": "no"}, {}),
        ({"max_fold_group_rows": " 42 "}, {"max_fold_group_rows": 42}),
        ({"max_fold_group_rows": "0"}, {"max_fold_group_rows": 1}),
        # the session limit applies only when it is all digits
        ({"max_fold_group_rows": "-5"}, {}),
        ({"max_fold_group_rows": "1e3"}, {}),
    ],
)
def test_session_settings_parse_rules(conf, want):
    from clickhouse_arrow_spark.dialect import (
        DialectSettings,
        session_dialect_settings,
    )

    prefix = "spark.clickhouse_arrow_spark.setting."

    def get(key, default):
        assert key.startswith(prefix)
        return conf.get(key[len(prefix):], default)

    assert session_dialect_settings(get) == DialectSettings(**want)


def test_sessions_get_their_own_set_value(spark, client):
    """Two sessions query at once; the one that SET the legacy splitBy*
    mode gets the remainder, the other one the modern answer."""
    from clickhouse_arrow_spark.client import Client

    legacy = Client(spark.newSession())
    legacy.query_ch("SET splitby_max_substrings_includes_remaining_string = 1")
    sql = "SELECT splitByChar(',', 'a,b,c', 2) AS p"

    def run(c):
        return lambda: list(c.query_ch(sql).collect()[0]["p"])

    got_modern, got_legacy = _race([run(client), run(legacy)], 60)
    assert got_modern == [["a", "b"]] * 60
    assert got_legacy == [["a", "b,c"]] * 60

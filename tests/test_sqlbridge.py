"""Unit + e2e tests for the SQL-text pushdown bridge (loki_sql) — the
layer that restores the reference's automatic label/line/time/LIMIT
pushdown (datafusion-loki/src/expr.rs, src/scan.rs:131-146) on top of the
hook-less Python DS API."""

from __future__ import annotations

import re
import time

import pytest

from datafusion_loki_spark import loki_sql
from datafusion_loki_spark.sources.sqlbridge import extract_pushdown
from tests.emulator import LokiEmulator

NS = 1_000_000_000


# --- extraction unit tests (no Spark) ---------------------------------------


def test_extracts_full_exact_conjunction():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND line LIKE '%error%' LIMIT 10"
    )
    assert spec.table == "logs"
    assert spec.matchers == [("app", "=", "web")]
    assert spec.line_contains == ["error"]
    assert spec.limit == 10 and spec.exact_only


def test_ne_matcher_extracts_but_blocks_limit():
    # the store's != keeps absent-label rows (Loki: missing label == ""),
    # Spark's NULL-semantics re-check drops them — a superset, so the
    # matcher pushes (pruning) but LIMIT must not (truncation)
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND labels['env'] != 'prod' LIMIT 10"
    )
    assert spec.matchers == [("app", "=", "web"), ("env", "!=", "prod")]
    assert spec.limit == 10 and not spec.exact_only


def test_time_bound_blocks_limit_but_sets_window():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'web' "
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00+00:00' "
        "AND timestamp <= TIMESTAMP '2024-02-01 00:00:00+00:00' LIMIT 5"
    )
    assert spec.matchers == [("app", "=", "web")]
    assert spec.start_ns is not None and spec.end_ns is not None
    # `<=` widens the end by 1 µs of ns (exclusive-store-end guard)
    assert spec.end_ns % NS == 1_000
    assert not spec.exact_only  # superset window → LIMIT must NOT push
    # a ZONELESS literal emits no bound (round-7 review): Spark reads it
    # in spark.sql.session.timeZone, which the pure extractor cannot see
    # — an assumed-UTC bound would shift the fetch window by the session
    # offset. The conjunct still clears exact_only.
    spec2 = extract_pushdown(
        "SELECT * FROM logs "
        "WHERE timestamp >= TIMESTAMP '2024-01-01 00:00:00' LIMIT 5"
    )
    assert spec2.start_ns is None and not spec2.exact_only


def test_or_not_parens_disable_extraction():
    for frag in (
        "labels['app'] = 'web' OR line LIKE '%x%'",
        "NOT labels['app'] = 'web'",
        "(labels['app'] = 'web')",
    ):
        spec = extract_pushdown(f"SELECT * FROM logs WHERE {frag}")
        assert spec.matchers == [] and spec.line_contains == []
        assert not spec.exact_only


def test_or_inside_string_literal_is_ignored():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'a or (not) b'"
    )
    assert spec.matchers == [("app", "=", "a or (not) b")]
    assert spec.exact_only


def test_wildcard_like_is_residual():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE line LIKE '%a_b%' LIMIT 3"
    )
    assert spec.line_contains == []
    assert not spec.exact_only  # non-contains LIKE stays Spark-side


def test_bare_limit_pushes_without_where():
    spec = extract_pushdown("SELECT * FROM logs LIMIT 7")
    assert spec.limit == 7 and spec.exact_only


def test_quote_doubling_unescapes():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'o''clock'"
    )
    assert spec.matchers == [("app", "=", "o'clock")]


def test_residual_conjunct_keeps_label_push_but_blocks_limit():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'web' "
        "AND length(line) > 3 LIMIT 4"
    )
    assert spec.matchers == [("app", "=", "web")]
    assert not spec.exact_only


def test_limit_blocked_by_reordering_statement_shapes():
    # LIMIT bounds the OUTPUT of these operators, not the scan — pushing
    # it would truncate the scan INPUT (wrong counts, missing distinct
    # values, wrong top-n); the shape gate must refuse every one
    for sql in (
        "SELECT labels['app'] AS a, count(*) AS n FROM logs "
        "GROUP BY labels['app'] LIMIT 2",
        "SELECT DISTINCT line FROM logs LIMIT 2",
        "SELECT count(*) AS n FROM logs LIMIT 1",
        "SELECT line FROM logs ORDER BY timestamp DESC LIMIT 3",
        "SELECT upper(line) AS u FROM logs LIMIT 2",  # conservative: any call
        "SELECT row_number() OVER (ORDER BY timestamp) AS r FROM logs LIMIT 2",
        "SELECT l.line FROM logs l JOIN owners o ON l.labels['app'] = o.app "
        "LIMIT 2",
        "SELECT line FROM logs, owners LIMIT 2",
        "SELECT line FROM logs UNION ALL SELECT line FROM logs LIMIT 2",
        "SELECT line FROM logs WHERE line IN (SELECT line FROM o) LIMIT 2",
    ):
        assert extract_pushdown(sql).limit is None, sql


def test_from_inside_function_call_is_not_the_table():
    # EXTRACT/SUBSTRING/TRIM carry a SQL-standard FROM inside their call
    # parens; the table is the depth-0 FROM
    for sql in (
        "SELECT EXTRACT(YEAR FROM timestamp) AS y FROM logs "
        "WHERE labels['app'] = 'web'",
        "SELECT SUBSTRING(line FROM 1 FOR 2) AS s FROM logs "
        "WHERE labels['app'] = 'web'",
        "SELECT TRIM(BOTH 'x' FROM line) AS t FROM logs "
        "WHERE labels['app'] = 'web'",
    ):
        spec = extract_pushdown(sql)
        assert spec.table == "logs", sql
        assert spec.matchers == [("app", "=", "web")], sql


def test_is_distinct_from_is_not_a_table():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE line IS DISTINCT FROM 'x'"
    )
    assert spec.table == "logs"


def test_disagreeing_from_tables_bind_first_push_nothing():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "UNION ALL SELECT line FROM other_logs"
    )
    assert spec.table == "logs"
    assert spec.matchers == [] and not spec.exact_only


def test_same_table_set_op_pushes_nothing():
    # Both branches share ONE registered scan; pushing the filtered
    # branch's matcher would silently filter the unfiltered branch too —
    # wrong results, not just lost pruning (round-6 ADVICE, high)
    spec = extract_pushdown(
        "SELECT line FROM logs UNION ALL "
        "SELECT line FROM logs WHERE labels['app'] = 'web'"
    )
    assert spec.table == "logs"
    assert spec.matchers == [] and not spec.exact_only
    assert spec.start_ns is None and spec.limit is None


def test_subquery_suppresses_all_pushes_not_just_limit():
    # the subquery may read the SAME logs table; pruning the shared scan
    # with the outer WHERE's sibling matchers would shrink the subquery's
    # input and change results (round-6 ADVICE, medium)
    for sql in (
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND line IN (SELECT labels['env'] FROM logs)",
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND timestamp >= TIMESTAMP '2024-01-01T00:00:00' "
        "AND EXISTS (SELECT 1 FROM logs)",
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND length(line) > (SELECT min(length(line)) FROM logs)",
    ):
        spec = extract_pushdown(sql)
        assert spec.matchers == [], sql
        assert spec.line_contains == [] and spec.line_regexes == [], sql
        assert spec.start_ns is None and spec.end_ns is None, sql
        assert spec.limit is None and not spec.exact_only, sql


def test_label_rlike_extracts_wrapped_matcher():
    # Loki label matchers are fully anchored (fullmatch); Spark RLIKE is a
    # substring search — the pushed selector wraps the pattern to keep
    # Spark's semantics (≙ expr.rs:40-41, with the anchoring delta fixed)
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] RLIKE 'we.?' LIMIT 5"
    )
    assert spec.matchers == [("app", "=~", "(?s:.*)(?:we.?)(?s:.*)")]
    # round-7 review: an =~ whose rx can match "" selects ABSENT-label
    # streams too ({k=~""}-class superset), so regex matchers never
    # co-push a LIMIT — the matcher still prunes, the limit stays
    # Spark-side
    assert not spec.exact_only
    assert spec.limit == 5


def test_label_rlike_wrap_crosses_newlines():
    # Spark RLIKE is a substring search, so it matches 'web' inside a
    # multiline label value; the store-side fullmatch only keeps up if
    # the padding dots cross newlines — hence the (?s) prefix (round-6
    # ADVICE, low). Verified with Python re, whose dot/DOTALL semantics
    # match RE2's here.
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] RLIKE 'web'"
    )
    _, _, pushed = spec.matchers[0]
    multiline_value = "prefix\nweb\nsuffix"
    assert re.search("web", multiline_value)  # Spark keeps the row
    assert re.fullmatch(pushed, multiline_value)  # store must keep it too


def test_label_not_rlike_pushes_but_blocks_limit():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] NOT RLIKE 'a.i'"
    )
    assert spec.matchers == [("app", "!~", "(?s:.*)(?:a.i)(?s:.*)")]
    assert not spec.exact_only  # absent-label superset, as with !=


def test_label_rlike_re2_unsupported_stays_spark_side():
    for rx in (
        "a(?=b)",  # lookaround (RE2 rejects)
        "suf$",  # Java $ matches before a trailing newline, RE2's
        # only at end-of-text — pushing would DROP rows Spark keeps
        "a*+",  # possessive (RE2 rejects)
        "[a-z&&[^bc]]",  # intersection (RE2: silently different language)
    ):
        spec = extract_pushdown(
            f"SELECT line FROM logs WHERE labels['app'] RLIKE '{rx}'"
        )
        assert spec.matchers == [] and not spec.exact_only, rx


def test_line_not_rlike_extracts_negated_stage():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE line NOT RLIKE 'debug' LIMIT 2"
    )
    assert spec.line_regexes == ["!~ `debug`"]
    assert spec.exact_only and spec.limit == 2


# --- e2e through the emulator ------------------------------------------------


@pytest.fixture(scope="module")
def emulator():
    em = LokiEmulator().start()
    now = time.time_ns()
    em.seed(
        [
            (now - 50 * 60 * NS, {"app": "web"}, "request ok"),
            (now - 40 * 60 * NS, {"app": "web"}, "request error 500"),
            (now - 30 * 60 * NS, {"app": "api"}, "error in handler"),
            (now - 20 * 60 * NS, {"app": "api"}, "healthy"),
        ]
    )
    yield em
    em.stop()


def test_loki_sql_pushes_labels_and_line(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "AND line LIKE '%error%'",
        emulator.endpoint,
    )
    assert [r.line for r in df.collect()] == ["request error 500"]
    # the STORE received the selector and the contains filter — automatic
    # pushdown, no options (≙ expr.rs:11-47, 83-98)
    assert emulator.queries[-1] == '{app="web"} |= `error`'


def test_loki_sql_unpushable_where_still_correct(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "OR line LIKE '%handler%'",
        emulator.endpoint,
        default_label="app",
    )
    assert sorted(r.line for r in df.collect()) == [
        "error in handler",
        "request error 500",
        "request ok",
    ]
    # nothing pushed: the OR tree fell back to the default-label full scan
    assert emulator.queries[-1] == '{app=~".+"}'


def test_loki_sql_pushes_limit_when_exact(spark, emulator):
    loki_sql(
        spark,
        "SELECT * FROM logs WHERE labels['app'] = 'api' LIMIT 1",
        emulator.endpoint,
    ).collect()
    assert emulator.params[-1].get("limit") == "1"


def test_loki_sql_aggregate_over_pushed_scan(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT count(*) AS n FROM logs WHERE labels['app'] = 'api'",
        emulator.endpoint,
    )
    assert df.collect()[0].n == 2
    assert emulator.queries[-1] == '{app="api"}'


def test_rlike_and_ilike_extract_as_regex_stages():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'web' "
        "AND line RLIKE 'err[0-9]+' AND line ILIKE '%Fail%' LIMIT 2"
    )
    # round-7 review: ILIKE is NOT pushed — Spark lowercases with full
    # Unicode (İ → i̇ contains 'i') while the RE2 (?i) stage does simple
    # folding, so the store stage would drop rows Spark keeps (line
    # filters never reach the re-check). RLIKE remains Exact.
    assert spec.line_regexes == ["|~ `err[0-9]+`"]
    assert not spec.exact_only  # the unpushed ILIKE is a residual conjunct
    assert spec.limit == 2


def test_ilike_never_pushes_a_store_stage():
    # ASCII-only patterns don't make the push safe either — the DATA can
    # be non-ASCII (Turkish İ lowercases to i̇, which contains 'i').
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE line ILIKE '%fail%'"
    )
    assert spec.line_regexes == []
    assert not spec.exact_only


def test_re2_unparseable_regex_stays_spark_side():
    spec = extract_pushdown(
        r"SELECT * FROM logs WHERE line RLIKE 'a(?=b)' LIMIT 2"
    )
    assert spec.line_regexes == []
    assert not spec.exact_only


def test_not_like_is_exempt_from_not_gate():
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = 'web' "
        "AND line NOT LIKE '%debug%' LIMIT 9"
    )
    # label still extracted; NOT LIKE rides pushFilters, counts exact
    assert spec.matchers == [("app", "=", "web")]
    assert spec.line_contains == []
    assert spec.exact_only and spec.limit == 9


def test_loki_sql_pushes_rlike(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'api' "
        "AND line RLIKE 'err.r'",
        emulator.endpoint,
    )
    assert [r.line for r in df.collect()] == ["error in handler"]
    assert emulator.queries[-1] == '{app="api"} |~ `err.r`'


def test_projection_extracts_referenced_columns():
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] = 'web'"
    )
    assert spec.columns == ("labels", "line")
    assert extract_pushdown("SELECT * FROM logs").columns is None
    assert extract_pushdown("SELECT COUNT(1) AS n FROM logs").columns == (
        "timestamp",
    )


def test_loki_sql_projects_referenced_columns_only(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'web'",
        emulator.endpoint,
    )
    assert sorted(r.line for r in df.collect()) == [
        "request error 500",
        "request ok",
    ]
    # the scan inlined into the returned plan carries only the referenced
    # columns — timestamp is never decoded (the view binding itself is
    # transient, so inspect the analyzed plan, not the catalog)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    scan_lines = [
        ln
        for ln in analyzed.splitlines()
        if "Relation" in ln or "PythonScan" in ln
    ]
    assert scan_lines, analyzed
    assert all("timestamp" not in ln for ln in scan_lines), analyzed


def test_loki_sql_leaves_no_view_binding(spark, emulator):
    for t in spark.catalog.listTables():
        if t.name == "logs" and t.tableType == "TEMPORARY":
            spark.catalog.dropTempView("logs")
    loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'web'",
        emulator.endpoint,
    ).collect()  # the plan executes fine after the transient view is gone
    assert not any(
        t.name == "logs" and t.tableType == "TEMPORARY"
        for t in spark.catalog.listTables()
    )


def test_loki_sql_restores_prior_view(spark, emulator):
    spark.createDataFrame(
        [("sentinel",)], "line string"
    ).createOrReplaceTempView("logs")
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] = 'web'",
        emulator.endpoint,
    )
    # the statement ran against the STORE, not the pre-existing view...
    assert sorted(r.line for r in df.collect()) == [
        "request error 500",
        "request ok",
    ]
    # ...and the pre-existing view is back afterwards, not clobbered
    assert [r.line for r in spark.table("logs").collect()] == ["sentinel"]
    spark.catalog.dropTempView("logs")


def _job_ids(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"job_count_{time.time_ns()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus: drain it first so a
    # job that did start cannot be missed
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_loki_sql_select_build_starts_no_spark_job(spark, emulator):
    # building the statement (scan bind, prior-view probe, analysis,
    # restore) is catalog work only: listTables() would run 3 jobs here
    _, jobs = _job_ids(
        spark,
        lambda: loki_sql(
            spark,
            "SELECT line FROM logs WHERE labels['app'] = 'web'",
            emulator.endpoint,
        ),
    )
    assert jobs == []


def test_loki_sql_insert_is_one_spark_job(spark):
    # an INSERT drains its input once: one mapInArrow job pushes and
    # counts (persist + count + save + a parallelized count frame ran 5),
    # and the count frame is a literal whose read is one single-task job
    em = LokiEmulator().start()
    try:
        insert = (
            "INSERT INTO logs SELECT timestamp_seconds(1767286800 + id), "
            "map('app', 'job-count'), concat('row ', id) FROM range(0, 40, 1, 4)"
        )
        result, jobs = _job_ids(spark, lambda: loki_sql(spark, insert, em.endpoint))
        assert len(jobs) == 1
        assert len(em.rows) == 40
        table, (job,) = _job_ids(spark, result.toArrow)
        tracker = spark.sparkContext.statusTracker()
        stages = tracker.getJobInfo(job).stageIds
        assert [tracker.getStageInfo(s).numTasks for s in stages] == [1]
        assert table.column("count").to_pylist() == [40]
    finally:
        em.stop()


def test_loki_sql_rejects_qualified_table():
    import pytest as _pytest

    from datafusion_loki_spark import loki_sql as _loki_sql

    with _pytest.raises(ValueError, match="unqualified"):
        _loki_sql(None, "SELECT line FROM db.logs", "http://x")


def test_loki_sql_label_rlike_pushes_selector(spark, emulator):
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] RLIKE 'we'",
        emulator.endpoint,
    )
    # partial-match semantics preserved: 'we' matches app="web"
    assert sorted(r.line for r in df.collect()) == [
        "request error 500",
        "request ok",
    ]
    assert emulator.queries[-1] == '{app=~"(?s:.*)(?:we)(?s:.*)"}'


def test_loki_sql_comma_quantifier_survives_option_roundtrip(spark, emulator):
    # the matcher travels extractor → "labels" option → quote-aware
    # parse_label_options → selector; a naive comma split mangled the
    # quantifier into two broken terms (round-7 review, verified live)
    df = loki_sql(
        spark,
        "SELECT line FROM logs WHERE labels['app'] RLIKE 'we{1,2}b'",
        emulator.endpoint,
    )
    assert sorted(r.line for r in df.collect()) == [
        "request error 500",
        "request ok",
    ]
    assert (
        emulator.queries[-1] == '{app=~"(?s:.*)(?:we{1,2}b)(?s:.*)"}'
    )


# Equivalence grid: for every WHERE shape the extractor can meet, the
# pushed path must return EXACTLY the rows of the unpushed full-scan path
# — the "pushdown never changes results" contract, proven end-to-end.
EQUIV_CONDS = [
    "labels['app'] = 'web'",
    "labels['app'] != 'web'",
    "labels['app'] = 'web' AND line LIKE '%error%'",
    "line LIKE '%error%'",
    "line NOT LIKE '%error%'",
    "line RLIKE 'err.r'",
    "line ILIKE '%ERROR%'",
    "labels['app'] = 'web' OR line LIKE '%handler%'",
    "NOT labels['app'] = 'web'",
    "labels['app'] = 'a or (not) b'",
    "length(line) > 10",
    "labels['app'] = 'web' AND length(line) > 10",
    "line LIKE '%a_b%'",
    "labels['env'] = 'missing'",
    "labels['env'] != 'prod'",  # store keeps absent-label rows; Spark re-checks
    "timestamp >= TIMESTAMP '2020-01-01 00:00:00'",
    "labels['app'] = 'api' AND line RLIKE 'e.*r' AND line NOT LIKE '%500%'",
    # label regex matchers (round 6): partial, anchored, negated, mixed
    "labels['app'] RLIKE 'we'",
    "labels['app'] RLIKE '^web$'",
    "labels['app'] NOT RLIKE 'a.i'",
    "line NOT RLIKE 'err.r'",
    "labels['app'] RLIKE 'w.b' AND line LIKE '%error%'",
]


@pytest.mark.parametrize("cond", EQUIV_CONDS)
def test_loki_sql_equivalent_to_unpushed(spark, emulator, cond):
    from datafusion_loki_spark import loki_table

    sql = f"SELECT line FROM logs WHERE {cond}"
    pushed = sorted(
        r.line
        for r in loki_sql(
            spark, sql, emulator.endpoint, default_label="app"
        ).collect()
    )
    loki_table(
        spark, emulator.endpoint, default_label="app"
    ).createOrReplaceTempView("logs")
    unpushed = sorted(r.line for r in spark.sql(sql).collect())
    spark.catalog.dropTempView("logs")
    assert pushed == unpushed, cond


# LIMIT equivalence grid (round 6): statements pairing LIMIT with a
# reordering / multiplicity-changing shape, chosen so both paths are
# deterministic (limit ≥ result size, or a unique-key ORDER BY). Before
# the shape gate, each of these truncated the scan INPUT (e.g. count(*)
# returned 1 with the store bound at 1 row).
LIMIT_EQUIV_SQLS = [
    "SELECT count(*) AS n FROM logs LIMIT 1",
    "SELECT labels['app'] AS app, count(*) AS n FROM logs "
    "GROUP BY labels['app'] LIMIT 5",
    "SELECT DISTINCT labels['app'] AS app FROM logs LIMIT 5",
    "SELECT line FROM logs ORDER BY timestamp DESC LIMIT 3",
    "SELECT line FROM logs WHERE labels['app'] != 'api' LIMIT 10",
]


@pytest.mark.parametrize("sql", LIMIT_EQUIV_SQLS)
def test_loki_sql_limit_equivalent_to_unpushed(spark, emulator, sql):
    from datafusion_loki_spark import loki_table

    pushed = sorted(
        map(
            str,
            loki_sql(
                spark, sql, emulator.endpoint, default_label="app"
            ).collect(),
        )
    )
    loki_table(
        spark, emulator.endpoint, default_label="app"
    ).createOrReplaceTempView("logs")
    unpushed = sorted(map(str, spark.sql(sql).collect()))
    spark.catalog.dropTempView("logs")
    assert pushed == unpushed, sql


def test_loki_sql_federation_join(spark, emulator):
    # The engine's core pitch through the bridge: Loki logs × a warehouse
    # dimension in ONE statement — the pushed label selector prunes the
    # stream while the join and aggregation run in Spark. Other tables in
    # the statement resolve from the session catalog as usual; only the
    # extracted FROM table is bound to the pruned scan.
    spark.createDataFrame(
        [("web", "frontend team"), ("api", "platform team")],
        "app string, owner string",
    ).createOrReplaceTempView("owners")
    df = loki_sql(
        spark,
        "SELECT o.owner, count(*) AS n FROM logs l "
        "JOIN owners o ON l.labels['app'] = o.app "
        "WHERE labels['app'] = 'api' GROUP BY o.owner",
        emulator.endpoint,
    )
    rows = df.collect()
    assert [(r.owner, r.n) for r in rows] == [("platform team", 2)]
    assert emulator.queries[-1] == '{app="api"}'


def test_loki_sql_insert_values_returns_count(spark):
    # INSERT through the same entry point as SELECT — the reference's
    # ctx.sql() surface (examples/datafusion.rs:10-32): VALUES rows are
    # appended via the push sink and the one-row count table comes back
    # (insert.rs:26-32,136-140)
    em = LokiEmulator().start()
    try:
        df = loki_sql(
            spark,
            "INSERT INTO logs VALUES "
            "(timestamp'2024-03-01 10:00:00', map('app','web'), 'hello'), "
            "(timestamp'2024-03-01 10:00:01', map('app','web'), 'world')",
            em.endpoint,
        )
        assert df.collect()[0]["count"] == 2
        got = loki_sql(
            spark,
            "SELECT line FROM logs WHERE labels['app'] = 'web' "
            "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' "
            "AND timestamp <= TIMESTAMP '2024-12-31 00:00:00'",
            em.endpoint,
        )
        assert sorted(r.line for r in got.collect()) == ["hello", "world"]
    finally:
        em.stop()


def test_loki_sql_insert_select_returns_count(spark):
    em = LokiEmulator().start()
    try:
        spark.createDataFrame(
            [("api", "from-view-1"), ("api", "from-view-2")],
            "app string, msg string",
        ).createOrReplaceTempView("staged")
        df = loki_sql(
            spark,
            "INSERT INTO logs SELECT timestamp'2024-03-02 09:00:00', "
            "map('app', app), msg FROM staged",
            em.endpoint,
        )
        assert df.collect()[0]["count"] == 2
        assert len(em.rows) == 2, "push sink never delivered the rows"
    finally:
        spark.catalog.dropTempView("staged")
        em.stop()


def test_extract_pushdown_never_raises_on_arbitrary_text():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=400, deadline=None)
    @given(st.text(max_size=200))
    def run(sql):
        # contract: unrecognized SQL degrades to an empty spec, never an
        # exception (loki_sql falls back to an unpruned scan)
        extract_pushdown(sql)

    run()


def test_extract_pushdown_never_raises_on_sqlish_soup():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    frag = st.sampled_from([
        "SELECT", "FROM logs", "WHERE", "AND", "OR", "NOT", "LIMIT 5",
        "labels['app']", "=", "!=", "'web'", "line", "LIKE", "RLIKE",
        "ILIKE", "'%x%'", "timestamp", ">=", "TIMESTAMP", "'2024-01-01'",
        "(", ")", "''", "'", "group by", "order by", ";",
    ])

    @settings(max_examples=400, deadline=None)
    @given(st.lists(frag, max_size=25))
    def run(parts):
        extract_pushdown(" ".join(parts))

    run()


def test_loki_sql_insert_with_column_list_errors_clearly():
    with pytest.raises(ValueError, match="omit the column list"):
        loki_sql(
            None,
            "INSERT INTO logs (timestamp, labels, line) VALUES (1, 2, 3)",
            "http://x",
        )


def test_loki_sql_insert_select_wrong_arity_errors(spark):
    em = LokiEmulator().start()
    try:
        with pytest.raises(ValueError, match="exactly"):
            loki_sql(
                spark,
                "INSERT INTO logs SELECT current_timestamp(), 'no-labels'",
                em.endpoint,
            )
    finally:
        em.stop()


def test_table_syntax_set_op_pushes_nothing():
    # Spark's `TABLE ident` queryPrimary forms a set-op branch with no
    # second SELECT keyword and no second FROM — it must trip the
    # shared-scan gate all the same (round-7 review finding)
    spec = extract_pushdown(
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "UNION ALL TABLE logs"
    )
    assert spec.matchers == [] and not spec.exact_only
    assert spec.limit is None


def test_backtick_quoted_table_branch_pushes_nothing():
    # round-7 ADVICE: the TABLE-branch gate matched only bare
    # identifiers, so `TABLE \`logs\` UNION ALL SELECT ...` forwarded
    # the SELECT branch's line filter (and column pruning) to the single
    # shared scan — silently filtering the TABLE branch. Mirror of the
    # plain-identifier test above with a reserved-word-style quoted name.
    spec = extract_pushdown(
        "TABLE `logs` UNION ALL "
        "SELECT line FROM logs WHERE line LIKE '%err%'"
    )
    assert spec.line_contains == [] and not spec.exact_only
    # and no column narrowing either — the TABLE branch references the
    # full schema implicitly
    assert spec.columns is None
    # regex-op conjuncts likewise stay unpushed
    spec2 = extract_pushdown(
        "TABLE `logs` UNION ALL "
        "SELECT line FROM logs WHERE labels['app'] = 'web'"
    )
    assert spec2.matchers == [] and not spec2.exact_only


def test_projection_survives_push_nothing_gates():
    # referenced-column narrowing is a superset over EVERY branch and
    # subquery, so the gates must not forfeit it
    for sql in (
        "SELECT line FROM logs UNION ALL "
        "SELECT line FROM logs WHERE labels['app'] = 'web'",
        "SELECT line FROM logs WHERE line IN "
        "(SELECT labels['env'] FROM logs)",
    ):
        spec = extract_pushdown(sql)
        assert spec.matchers == [], sql
        assert spec.columns is not None and "line" in spec.columns, sql
    # a TABLE branch (or NATURAL join) references columns IMPLICITLY —
    # no narrowing is safe there, the full schema must survive
    for sql in (
        "SELECT line FROM logs WHERE labels['app'] = 'web' "
        "UNION ALL TABLE logs",
        "SELECT l.line FROM logs l NATURAL JOIN owners",
    ):
        assert extract_pushdown(sql).columns is None, sql


def test_commented_out_predicates_are_dead_text():
    # A commented-out WHERE must not be extracted (round-7 review: a
    # literal-only masker pushed the matcher of a query with no WHERE —
    # wrong results); apostrophes inside comments must not desync the
    # literal masking for the rest of the statement.
    spec = extract_pushdown(
        "SELECT line FROM logs\n"
        "-- WHERE labels['app']='web'\n"
        "LIMIT 100"
    )
    assert spec.matchers == [] and spec.limit == 100 and spec.exact_only
    spec = extract_pushdown(
        "SELECT line FROM logs -- don't prune\n"
        "WHERE labels['app'] = 'web'"
    )
    assert spec.matchers == [("app", "=", "web")]
    spec = extract_pushdown(
        "SELECT line FROM logs /* WHERE labels['x']='y' */ LIMIT 7"
    )
    assert spec.matchers == [] and spec.limit == 7


def test_backslash_in_any_literal_pushes_nothing():
    # With the default parser (escapedStringLiterals=false) Spark
    # evaluates 'a\\b' as a\b while the extractor reads literals
    # verbatim — pushed values would diverge from what Spark compares,
    # turning pruning into data loss. Any backslash in any literal →
    # bind the table, push nothing.
    for q in (
        r"SELECT * FROM logs WHERE labels['app'] = 'a\\b' LIMIT 5",
        r"SELECT * FROM logs WHERE line RLIKE '\\d+'",
        r"SELECT * FROM logs WHERE line LIKE '%C:\\temp%'",
    ):
        spec = extract_pushdown(q)
        assert spec.table == "logs"
        assert spec.matchers == [] and spec.line_regexes == []
        assert spec.limit is None and not spec.exact_only


def test_empty_label_value_blocks_limit_copush():
    # {k=""} also matches absent-label streams (superset of Spark's
    # NULL-dropping equality) — same LIMIT hazard as !=; the matcher
    # itself still pushes (Spark re-checks).
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] = '' LIMIT 10"
    )
    assert spec.matchers == [("app", "=", "")]
    assert spec.limit == 10 and not spec.exact_only


def test_from_side_multiplicity_changers_block_limit():
    # TABLESAMPLE halves a truncated scan instead of truncating a
    # sampled scan; LATERAL VIEW multiplies/drops rows; SORT BY is a
    # partition-local ORDER BY. None may co-push a LIMIT.
    for q in (
        "SELECT line FROM logs TABLESAMPLE (50 PERCENT) LIMIT 100",
        "SELECT line FROM logs LATERAL VIEW explode(split(line, ' ')) t AS w"
        " LIMIT 5",
        "SELECT line FROM logs SORT BY line LIMIT 5",
        "SELECT line FROM logs DISTRIBUTE BY line LIMIT 5",
    ):
        spec = extract_pushdown(q)
        assert spec.limit is None, q


def test_backtick_quoted_table_binds():
    spec = extract_pushdown(
        "SELECT line FROM `logs` WHERE labels['app'] = 'web'"
    )
    assert spec.table == "logs"
    assert spec.matchers == [("app", "=", "web")]


def test_negated_case_insensitive_regex_stays_spark_side():
    # RE2's (?i) folds Unicode, Java's folds ASCII — the store matches a
    # SUPERSET, which a negated matcher/stage excludes: data loss. Both
    # negative routes keep the pattern Spark-side; the positive routes
    # still push (the superset is re-checked / kept).
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] NOT RLIKE '(?i)web'"
    )
    assert spec.matchers == [] and not spec.exact_only
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE line NOT RLIKE '(?i)err'"
    )
    assert spec.line_regexes == [] and not spec.exact_only
    spec = extract_pushdown(
        "SELECT * FROM logs WHERE labels['app'] RLIKE '(?i)web'"
    )
    assert spec.matchers == [("app", "=~", "(?s:.*)(?:(?i)web)(?s:.*)")]

"""datafusion_loki_spark — a PySpark-native analytics engine with the
capabilities of ``systemxlabs/datafusion-loki``.

The reference is a DataFusion TableProvider for Grafana Loki
(``/root/reference/datafusion-loki/src/table.rs``). Here the host engine is
Spark SQL/Catalyst; the connector is a Python Data Source (format ``"loki"``)
with an expression→LogQL pushdown translator; plan distribution is Spark's
native task serialization (the reference's protobuf codec, ``src/codec.rs``,
has no Spark analogue because the framework ships plans itself).

Beyond the reference's surface the package provides an LLM-data-pipeline
operator library (dedup, similarity search, text analysis, multimodal
columns) designed for 100 TB scale.
"""

from __future__ import annotations

__version__ = "0.1.0"

# Python workers that unpickle a Loki source or an operator's function import
# this package, so every later call in that reused worker skips the ~136 ms
# pyspark.zip directory re-read (see _zipcache; a no-op on CPython >= 3.12).
from datafusion_loki_spark._zipcache import install as _install_zipcache

_install_zipcache()


def register_loki(spark) -> None:
    """Register the ``loki`` data source format on a SparkSession.

    Mirrors the reference's ``SessionContext::register_table`` step
    (reference: datafusion-loki/examples/datafusion.rs:10-11).
    """
    from datafusion_loki_spark.sources.loki import LokiDataSource

    # Required for pushFilters to be consulted (off by default in Spark 4.1).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LokiDataSource)


def loki_table(
    spark,
    endpoint: str,
    *,
    labels: "dict[str, str] | str | list | None" = None,
    line_filters: "str | None" = None,
    columns: "list[str] | str | None" = None,
    start: "str | int | None" = None,
    end: "str | int | None" = None,
    limit: "int | None" = None,
    default_label: "str | None" = None,
    partitions: "int | None" = None,
    **options: str,
):
    """One-call pruned scan of a Loki endpoint — the SURVEY §7.4.2(b)
    escape hatch for everything Spark's pushFilters cannot carry.

    The reference pushes ``labels['app'] = 'x'`` into an Exact LogQL
    selector automatically (datafusion-loki/src/expr.rs:11-47,
    src/table.rs:140-156); Spark's filter language has no map-subscript
    form and no projection/limit hooks for Python sources, so a plain
    ``WHERE labels['app']='x'`` scans the default-label stream. This
    helper closes that gap explicitly:

        df = loki_table(spark, url,
                        labels={"app": "x"},          # → {app="x"} selector
                        line_filters='|= error',       # → store-side grep
                        columns=["timestamp", "line"], # decode only these
                        limit=1000)                    # → HTTP limit param

    ``labels`` accepts a dict of equality matchers, a raw selector body
    (``'app="x", env!="prod"'``), or a list of ``(key, op, value)``
    tuples with op ∈ {=, !=, =~, !~}; ``line_filters`` is the
    ;-separated ``|= != |~ !~`` syntax of the reader option. Tuple
    regex matchers get the same RE2 gate and Spark-RLIKE anchor
    wrapping as the ``loki_sql`` bridge (``(?s:.*)(?:rx)(?s:.*)`` — substring
    semantics; RE2-unsupported constructs raise). The raw-string form
    stays verbatim — the escape hatch for exact Loki fullmatch
    semantics. The user asserts the filter semantics (they are applied
    in the store, not re-checked by Spark) — same contract as the
    underlying reader options.
    """
    register_loki(spark)
    reader = spark.read.format("loki").option("endpoint", endpoint)
    if labels is not None:
        if isinstance(labels, dict):
            import json

            reader = reader.option("labels", json.dumps(labels))
        elif isinstance(labels, (list, tuple)):
            from datafusion_loki_spark.sources.logql import (
                label_matcher,
                regex_label_matcher,
            )

            terms = []
            for m in labels:
                # guard the natural mistakes: labels=("a=b",) would
                # otherwise unpack the STRING's characters as (k, op, v)
                # and silently query a wrong selector; labels=("app",
                # "=", "web") (one tuple, not a list of tuples) would
                # die with a misleading unpack error
                if isinstance(m, str) or len(m) != 3:
                    raise ValueError(
                        "labels matcher list needs (key, op, value) "
                        f"3-tuples, got {m!r} — for a raw selector "
                        "body pass a single string instead"
                    )
                k, op, v = m
                if op not in ("=", "!=", "=~", "!~"):
                    # a typo'd op ('==', '<') would otherwise be
                    # serialized verbatim into the stream selector —
                    # store error at best, a differently-parsed
                    # selector at worst (round-7 ADVICE)
                    raise ValueError(
                        "labels matcher op must be one of "
                        f"'=', '!=', '=~', '!~', got {op!r}"
                    )
                if op in ("=~", "!~"):
                    terms.append(regex_label_matcher(k, v, negate=op == "!~"))
                else:
                    terms.append(label_matcher(k, op, v))
            reader = reader.option("labels", ", ".join(terms))
        else:
            reader = reader.option("labels", labels)
    if line_filters is not None:
        reader = reader.option("line_filters", line_filters)
    if columns is not None:
        if not isinstance(columns, str):
            columns = ",".join(columns)
        if not columns.strip():
            # ','.join([]) == '' would silently fall through to the FULL
            # schema (_parse_columns_option treats empty as no-projection);
            # an explicit empty projection is a caller bug — fail loudly.
            raise ValueError(
                "loki_table(columns=...) needs at least one column; "
                "omit the argument to read the full schema"
            )
        reader = reader.option("columns", columns)
    if start is not None:
        reader = reader.option("start", str(start))
    if end is not None:
        reader = reader.option("end", str(end))
    if limit is not None:
        reader = reader.option("limit", str(limit))
    if default_label is not None:
        reader = reader.option("default_label", default_label)
    if partitions is not None:
        reader = reader.option("partitions", str(partitions))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def loki_sql(
    spark,
    sql: str,
    endpoint: str,
    *,
    default_label: "str | None" = None,
    **options: str,
):
    """Run SQL against a Loki endpoint with the reference's AUTOMATIC
    pushdown restored at the SQL layer (sources/sqlbridge.py).

    The reference translates ``labels['app']='x'`` into an Exact LogQL
    selector and SQL ``LIMIT n`` into a fetch bound inside the provider
    (datafusion-loki/src/expr.rs:11-47, src/scan.rs:131-146) — hooks the
    pinned pyspark Python DS API does not expose, which is why the plain
    registered-table path needs ``loki_table(labels=..., limit=...)``.
    This helper closes the ergonomic gap: it extracts those predicates
    from the statement text (flat AND-conjunctions only — the same
    conjuncts-only contract DataFusion gives the reference), binds the
    pruned scan as the statement's table, and runs the ORIGINAL statement
    so Spark re-checks every predicate row-by-row:

        df = loki_sql(spark,
            \"\"\"SELECT line FROM logs
               WHERE labels['app'] = 'web' AND line LIKE '%error%'
               LIMIT 100\"\"\",
            "http://loki:3100")

    Anything the extractor can't prove pushable (OR/NOT trees,
    RE2-incompatible regexes, subqueries) is simply not pushed — the
    query still runs, unpruned. LIMIT reaches the store only when every
    conjunct pushed store-exact AND the statement is a plain single-table
    SELECT (no GROUP BY / ORDER BY / DISTINCT / JOIN / set op / calls in
    the select list — see the sqlbridge module docstring for why both
    gates are required). The temp-view binding is transient: analysis
    inlines the scan, then any pre-existing view of that name is
    restored. README.md §Surface has the full matrix of which entry
    points (pushFilters / loki_sql / loki_table options) prune which
    predicate classes store-side.

    ``INSERT INTO <t> VALUES (...)`` / ``INSERT INTO <t> SELECT ...``
    statements append through the push sink and return the reference's
    one-row count table (insert.rs:26-32,136-140) — the full reference
    SQL surface through one entry point."""
    from datafusion_loki_spark.sources.logql import label_matcher
    from datafusion_loki_spark.sources.sqlbridge import (
        extract_pushdown,
        parse_insert,
    )

    # INSERT statements route to the push sink and return the reference's
    # one-row count table (insert.rs:26-32,136-140) — the whole reference
    # SQL surface (examples/datafusion.rs:10-32, init.sql) through ONE
    # entry point. `INSERT INTO <t> VALUES ...` evaluates the VALUES rows
    # against the loki schema; `INSERT INTO <t> SELECT ...` runs the
    # SELECT (over the session catalog) and appends its rows. Routing
    # (incl. the unsupported-form ValueError) lives in
    # sqlbridge.parse_insert, where the write-path fuzzer reaches it.
    ins = parse_insert(sql)
    if ins is not None:
        kind, body = ins
        if kind == "values":
            frame = spark.sql(
                f"SELECT * FROM ({body}) AS v(timestamp, labels, line)"
            )
        else:
            frame = spark.sql(body)
        if len(frame.columns) != 3:
            raise ValueError(
                "loki_sql INSERT needs exactly (timestamp, labels, line) "
                f"columns; got {len(frame.columns)}"
            )
        frame = frame.selectExpr(
            f"cast(`{frame.columns[0]}` as timestamp) as timestamp",
            f"cast(`{frame.columns[1]}` as map<string,string>) as labels",
            f"cast(`{frame.columns[2]}` as string) as line",
        )
        return insert_into_loki(frame, endpoint, **options)

    spec = extract_pushdown(sql)
    if spec.table is None:
        raise ValueError("loki_sql requires a FROM <table> clause")
    if "." in spec.table:
        # temp views cannot be database-qualified — without a bindable
        # name the statement's table cannot be pointed at the scan at all,
        # so fail with the actionable message rather than the analyzer's
        raise ValueError(
            f"loki_sql binds the scan as a temp view, so the FROM table "
            f"must be unqualified (got {spec.table!r}); use a bare name "
            f"like 'logs'"
        )
    kwargs: dict = {}
    if spec.matchers:
        terms = [label_matcher(k, op, v) for k, op, v in spec.matchers]
        if default_label is not None and not any(
            k == default_label and op == "=" and v != ""
            for k, op, v in spec.matchers
        ):
            # WHERE-extracted matchers are an OPTIMIZATION of the table
            # scan, never a re-definition of the table: without this,
            # a pushed negative matcher ({env!="web"} — Loki matches
            # ABSENT labels too) ENLARGES the universe beyond the
            # default-label fallback the unpushed route reads, and the
            # same SQL returns different rows depending on which route
            # ran it (round-13 hypothesis falsifier: an app-less
            # env='prod' stream appeared only under the bridge). Keep
            # the fallback term ANDed in — pruning still happens inside
            # the table's universe, and Spark's re-check makes the two
            # routes row-identical. Explicitly configured matchers
            # (loki_table(labels=...)) keep the reference's
            # replace-the-fallback behavior (O9) — that is
            # configuration, not pushdown. Skipped only when a pushed
            # positive equality on the default label already guarantees
            # its presence (a non-empty {app="x"} implies {app=~".+"}).
            terms.insert(0, f'{default_label}=~".+"')
        kwargs["labels"] = ", ".join(terms)
    # line-contains/NOT-LIKE and time bounds are deliberately NOT
    # forwarded as options: the scan's pushFilters hook translates them
    # from the re-checked WHERE itself (O4/O5) — forwarding would
    # duplicate the LogQL stages. The bridge adds only what the hooks
    # cannot carry: label matchers, RLIKE/ILIKE regex stages (expr.rs
    # marks these Exact; patterns with RE2-unparseable constructs stay
    # Spark-side), and (store-exact) LIMIT.
    if spec.line_regexes:
        kwargs["line_filters"] = ";".join(spec.line_regexes)
    if spec.columns is not None:
        # referenced-column superset → always-safe automatic projection
        # (≙ O6 ProjectionMask::roots, src/scan.rs:203-206)
        kwargs["columns"] = list(spec.columns)
    if spec.limit is not None and spec.exact_only:
        kwargs["limit"] = spec.limit
    df = loki_table(
        spark, endpoint, default_label=default_label, **kwargs, **options
    )
    # Bind the scan under the statement's table name only for the duration
    # of analysis (spark.sql resolves views eagerly, inlining the scan into
    # the returned plan), then restore the session catalog: a pre-existing
    # temp view of that name is re-registered, an absent one stays absent —
    # loki_sql leaves no view-binding side effect. tableExists/getTable
    # resolve in the session catalog without a Spark job (listTables()
    # would run three); a temp view shadows a same-named table, so
    # getTable reports TEMPORARY whenever one is bound.
    prior = None
    if (
        spark.catalog.tableExists(spec.table)
        and spark.catalog.getTable(spec.table).tableType == "TEMPORARY"
    ):
        prior = spark.table(spec.table)
    df.createOrReplaceTempView(spec.table)
    try:
        return spark.sql(sql)
    finally:
        if prior is not None:
            prior.createOrReplaceTempView(spec.table)
        else:
            spark.catalog.dropTempView(spec.table)


def insert_into_loki(df, endpoint: str, **options: str):
    """Append ``df`` (timestamp, labels, line) to a Loki endpoint and
    return the reference's one-row ``count`` result table
    (datafusion-loki/src/insert.rs:26-32,136-140).

    Spark's INSERT/save path returns no rows, so the sink alone cannot
    surface the inserted-row count. Like LokiLogInsertExec, this drains
    the input once: one ``mapInArrow`` job whose tasks push through the
    sink's kernel (``options``: ``batch_rows``) and yield their pushed-row
    counts; the result is their sum as a SQL literal (no Python worker)."""
    import pyarrow as pa

    from datafusion_loki_spark.sources.loki import LokiDataSourceWriter

    writer = LokiDataSourceWriter({"endpoint": endpoint, **options})

    def push(batches):
        yield pa.record_batch(
            [pa.array([writer.write(batches).count], pa.int64())], ["count"]
        )

    count = sum(row[0] for row in df.mapInArrow(push, "count long").collect())
    return df.sparkSession.sql(f"SELECT CAST({count} AS BIGINT) AS count")


def register_loki_endpoint(
    spark, name: str, endpoint: str, default_label: str | None = None, **options: str
) -> None:
    """Register an endpoint-BOUND loki format, enabling the full SQL
    surface: ``CREATE TABLE logs USING <name>`` then ``INSERT INTO logs
    VALUES (current_timestamp(), map('app','x'), 'line')`` and ``SELECT ...
    WHERE labels['app']='x'`` — the reference's SQL entry points
    (examples/datafusion.rs:10-32, integration-tests/testdata/init.sql).

    Needed because pyspark 4.1 does not forward CREATE TABLE OPTIONS to
    Python data sources; the connection options live on the registered
    class instead, and cloudpickle carries them to executors."""
    from datafusion_loki_spark.sources.loki import LokiDataSource

    defaults = {"endpoint": endpoint, **options}
    if default_label is not None:
        defaults["default_label"] = default_label
    bound = type(
        f"LokiDataSource_{name}",
        (LokiDataSource,),
        {"_default_options": defaults, "name": classmethod(lambda cls: name)},
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(bound)

"""Prometheus text exposition format as a sink (SURVEY.md §2b #16).

The reference's scrape path serializes registry → family → series →
value into the text exposition format (Registry::Collect() behind the
exposer registered at prometheus.cpp:80; endpoint prometheus.cpp:47,73
— public prometheus-cpp behavior). This module renders the identical
payload from the engine's relations, one exposition line per row:

    # TYPE <metric> <kind>
    <metric>_total{user="<label>"} <value>      (counters)
    <metric>{user="<label>"} <value>            (gauges)
    <metric>_bucket{le="<bound>"} <cum_count>   (histograms)
    <metric>_sum <value> / <metric>_count <n>

Numeric rendering goes through DECIMAL(28,4) so Spark and DuckDB print
byte-identical strings (double→string shortest-round-trip forms differ
in scientific-notation cutoffs between engines; fixed-scale decimal
canonicalizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shards_prometheus_spark.operators.histograms import (
    BOUNDS,
    _BUCKET_COUNTS_SQL,
    _le_label_sql,
    histogram_buckets,
)
from shards_prometheus_spark.operators.snapshot import scrape_snapshot
from shards_prometheus_spark.operators.tierc_common import _memo_persist


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(28,4)").cast("string")


def esc_label(c: Column) -> Column:
    """Prometheus text-format label-value escaping: backslash first,
    then quote and newline (the public format's three escapes). A
    no-op on the driver corpus (numeric user ids) but required for
    arbitrary label values."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    return F.replace(c, F.lit("\n"), F.lit("\\n"))


def unesc_label(c: Column) -> Column:
    """Inverse of esc_label. Escaped backslashes go through a NUL
    sentinel so `\\\\n` round-trips to backslash+n, not newline (NUL
    cannot appear in a label value)."""
    c = F.replace(c, F.lit("\\\\"), F.lit("\x00"))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def _snap_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot relation feeds 4 of the 5 classic union legs and
    both OpenMetrics section legs; it is registry-sized (~1.5k rows at
    sf0.01). MEMOIZED per (app, sf_dir) — a per-call .persist() here
    accumulated one cached relation per HTTP scrape on a long-running
    exposer (the same per-call-persist pathology the r7 dedup_clusters
    fix removed); the memo is released by clear_caches()."""
    return _memo_persist(
        spark, sf_dir, "expo_snap", lambda: scrape_snapshot(spark, sf_dir)
    )


def exposition_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scrape payload, one line per row."""
    return _classic_lines(spark, sf_dir, _snap_persisted(spark, sf_dir))


def _classic_lines(
    spark: SparkSession,
    sf_dir: str,
    snap: DataFrame,
    bucket_admit: "dict[str, set[str]] | None" = None,
) -> DataFrame:
    """Classic-format payload from an (ideally persisted) snapshot.
    `bucket_admit` (federation) restricts the bucket legs to the
    admitted {metric: set-of-le-strings} map — each bucket SERIES
    carries the label set {le: bound}, so a federate selector
    constraining `le` admits exactly the matching bucket rows
    (including or excluding "+Inf"), consistent with the selector
    machinery everywhere else. None = no restriction (the plain
    exposition payload)."""
    header_src = snap.select("kind", "metric")
    if bucket_admit is not None and bucket_admit:
        # a family whose BUCKET series matched (e.g. via a `le`
        # matcher) must serve its TYPE header even when none of its
        # scalar series did — bucket series are real series of the
        # family; the extra leg is registry-sized and dedupes below
        header_src = header_src.unionByName(
            _snap_persisted(spark, sf_dir)
            .filter(
                (F.col("kind") == "histogram")
                & F.col("metric").isin(sorted(bucket_admit))
            )
            .select("kind", "metric")
        )
    headers = header_src.distinct().select(
        F.concat(
            F.lit("# TYPE "),
            header_name(F.col("metric")),
            F.lit(" "),
            F.col("kind"),
        ).alias("line")
    )
    user_pair = F.concat(
        F.lit('user="'), esc_label(F.col("label_user")), F.lit('"')
    )
    counters = snap.filter(F.col("kind") == "counter").select(
        F.concat(
            series_ref(
                F.concat(F.col("metric"), F.lit("_total")), user_pair
            ),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )
    gauges = snap.filter(F.col("kind") == "gauge").select(
        F.concat(
            series_ref(F.col("metric"), user_pair),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )
    hist_scalar = snap.filter(F.col("kind") == "histogram").select(
        F.concat(
            series_ref(
                F.concat(F.col("metric"), F.lit("_"), F.col("stat"))
            ),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )
    # FINITE bounds only: on a corpus with values above the top bound,
    # _bucket_idx_col maps the overflow to the "+Inf" label, so an
    # unfiltered leg would duplicate the count-derived +Inf line below
    # — duplicate series are illegal in both exposition dialects
    bucket_src = histogram_buckets(spark, sf_dir)
    if bucket_admit is not None:
        # driver-side literal predicate: #selectors × #bounds terms —
        # constant-sized, folded by Catalyst, no extra scan/shuffle
        cond = F.lit(False)
        for m, les in bucket_admit.items():
            finite = sorted(le for le in les if le != "+Inf")
            if finite:
                cond = cond | (
                    (F.col("metric") == m) & F.col("le").isin(finite)
                )
        bucket_src = bucket_src.filter(cond)
    buckets = (
        bucket_src
        .filter(F.col("le_idx") < len(BOUNDS))
        .select(
            F.concat(
                series_ref(
                    F.concat(F.col("metric"), F.lit("_bucket")),
                    F.concat(F.lit('le="'), F.col("le"), F.lit('"')),
                ),
                F.lit(" "),
                F.col("cum_count").cast("string"),
            ).alias("line")
        )
    )
    # the le="+Inf" bucket is MANDATORY in both exposition dialects and
    # its cumulative count equals the histogram _count stat; this leg
    # is the SOLE +Inf source (the data-driven relation above never
    # materializes it on an under-bound corpus and is filtered to
    # finite bounds on an overflow corpus)
    if bucket_admit is None:
        inf_src = snap.filter(
            (F.col("kind") == "histogram") & (F.col("stat") == "count")
        )
    else:
        # federation: +Inf admission is decided by bucket_admit alone
        # (a `le` matcher empties the scalar snapshot leg but still
        # matches the +Inf bucket SERIES), so the count rows come
        # from the full persisted registry snapshot
        inf_metrics = sorted(
            m for m, les in bucket_admit.items() if "+Inf" in les
        )
        inf_src = _snap_persisted(spark, sf_dir).filter(
            (F.col("kind") == "histogram")
            & (F.col("stat") == "count")
            & (
                F.col("metric").isin(inf_metrics)
                if inf_metrics
                else F.lit(False)
            )
        )
    inf_bucket = inf_src.select(
        F.concat(
            series_ref(
                F.concat(F.col("metric"), F.lit("_bucket")),
                F.lit('le="+Inf"'),
            ),
            F.lit(" "),
            F.col("value").cast("long").cast("string"),
        ).alias("line")
    )
    return (
        headers.unionByName(counters)
        .unionByName(gauges)
        .unionByName(hist_scalar)
        .unionByName(buckets)
        .unionByName(inf_bucket)
    )


def exposition_lines_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter exposition over the FULL label map — the generalized
    series model (SURVEY §1.2; the reference's single Label/Value pair,
    prometheus.cpp:105-110, is the one-entry special case). Labels
    render sorted by key with text-format escaping, the public
    exposition convention for multi-label series."""
    from shards_prometheus_spark.model import samples_multi

    s = samples_multi(spark, sf_dir)
    totals = (
        s.filter(F.col("value") >= 0)
        .groupBy("metric", "series_id")
        .agg(
            F.first("labels").alias("labels"),
            F.sum("value").alias("value"),
        )
    )
    pairs = F.transform(
        F.array_sort(F.map_keys("labels")),
        lambda k: F.concat(
            k,
            F.lit('="'),
            esc_label(F.element_at(F.col("labels"), k)),
            F.lit('"'),
        ),
    )
    return totals.select(
        F.concat(
            series_ref(
                F.concat(F.col("metric"), F.lit("_total")),
                F.array_join(pairs, ","),
            ),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )


def snapshot_lines(snap: DataFrame) -> DataFrame:
    """Classic exposition payload from an ARBITRARY registry snapshot
    relation ((kind, metric, label_user, value), e.g. a
    MetricsRegistry.snapshot() projection or a live store) — the
    store-agnostic writer twin of `exposition_lines` for counter and
    gauge families. Routes through the same `series_ref`/`header_name`
    helpers as the batch-dir writers, so an OTel-style dotted family
    (`web.click`) serializes in the 3.x quoted-name form and
    round-trips exposer → scrape loop → registry."""
    headers = (
        snap.filter(F.col("kind").isin("counter", "gauge"))
        .select("kind", "metric")
        .distinct()
        .select(
            F.concat(
                F.lit("# TYPE "),
                header_name(F.col("metric")),
                F.lit(" "),
                F.col("kind"),
            ).alias("line")
        )
    )
    user_pair = F.concat(
        F.lit('user="'), esc_label(F.col("label_user")), F.lit('"')
    )
    counters = snap.filter(F.col("kind") == "counter").select(
        F.concat(
            series_ref(
                F.concat(F.col("metric"), F.lit("_total")), user_pair
            ),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )
    gauges = snap.filter(F.col("kind") == "gauge").select(
        F.concat(
            series_ref(F.col("metric"), user_pair),
            F.lit(" "),
            _dec("value"),
        ).alias("line")
    )
    return headers.unionByName(counters).unionByName(gauges)


#: Classic label-name charset (the public grammar; names outside it
#: serialize quoted in the 3.x dialect).
_CLASSIC_LABEL_RE = "^[A-Za-z_][A-Za-z0-9_]*$"


def classified_lines(classified: DataFrame) -> DataFrame:
    """Inverse of `classify_lines`: a classified relation — (metric,
    kind, stat, value) plus the full `labels` map (or the flattened
    `label_user`/`le` pair) — rendered back to classic exposition
    text, EVERY kind included: counters re-suffix `_total`, histogram
    children `_bucket`/`_sum`/`_count` with `le` intact, summaries as
    quantile-labelled bare-name samples plus their `_sum`/`_count`
    children, gauges bare. Labels render sorted with text-format
    escaping; non-classic metric/label names take the 3.x quoted
    form. Stale-marker rows (the staleness diff's synthetic NaNs) are
    excluded — upstream never federates a marker.

    This is the serving half of the scraped-registry loop: point an
    exposer's ``lines_fn`` at ``classified_lines(
    registry_from_scrapes(log))`` and the engine re-exposes exactly
    what it scraped — multi-label series and summary families
    included — for a downstream server to federate. Pure column
    expressions over one scan; values render with Spark's
    shortest-roundtrip double→string cast, so re-classifying the
    payload reproduces every value bit-for-bit."""
    snap = classified
    if "stale" in snap.columns:
        snap = snap.filter(~F.coalesce(F.col("stale"), F.lit(False)))
    if "labels" not in snap.columns:
        snap = snap.withColumn(
            "labels",
            F.map_filter(
                F.create_map(
                    F.lit("user"),
                    F.col("label_user"),
                    F.lit("le"),
                    F.col("le"),
                ),
                lambda _k, v: v.isNotNull(),
            ),
        )
    headers = (
        snap.select("kind", "metric")
        .distinct()
        .select(
            F.concat(
                F.lit("# TYPE "),
                header_name(F.col("metric")),
                F.lit(" "),
                F.col("kind"),
            ).alias("line")
        )
    )
    suffix = (
        F.when(F.col("stat") == "total", F.lit("_total"))
        .when(F.col("stat") == "bucket", F.lit("_bucket"))
        .when(F.col("stat") == "sum", F.lit("_sum"))
        .when(F.col("stat") == "count", F.lit("_count"))
        .otherwise(F.lit(""))
    )
    key_render = lambda k: F.when(  # noqa: E731
        k.rlike(_CLASSIC_LABEL_RE), k
    ).otherwise(quote_name(k))
    pairs = F.transform(
        F.array_sort(F.map_entries(F.coalesce("labels", F.create_map()))),
        lambda e: F.concat(
            key_render(e["key"]),
            F.lit('="'),
            esc_label(e["value"]),
            F.lit('"'),
        ),
    )
    name = F.concat(F.col("metric"), suffix)
    body = F.array_join(pairs, ",")
    ref = F.when(body != "", series_ref(name, body)).otherwise(
        series_ref(name)
    )
    samples = snap.select(
        F.concat(
            ref, F.lit(" "), F.col("value").cast("string")
        ).alias("line")
    )
    return headers.unionByName(samples)


#: Prometheus metric-name regex (public exposition-format grammar).
_NAME_RE = "^([A-Za-z_:][A-Za-z0-9_:]*)"

#: Fully-anchored classic (pre-3.x) name charset — names outside it
#: serialize in the 3.x quoted form on every writer below.
_CLASSIC_FULL_RE = "^[A-Za-z_:][A-Za-z0-9_:]*$"

#: Quoted-name capture at the start of a sample line (`{"name"…`).
_QNAME_RE = r'^\{"((?:[^"\\]|\\.)*)"'


def quote_name(c: Column) -> Column:
    """A name in the 3.x quoted form (same escaping as label values —
    the public 3.x grammar reuses it)."""
    return F.concat(F.lit('"'), esc_label(c), F.lit('"'))


def header_name(c: Column) -> Column:
    """Metric family name as written in `# TYPE`/`# HELP`/`# UNIT`
    headers: bare when classic, quoted otherwise (3.x UTF-8 names)."""
    return F.when(c.rlike(_CLASSIC_FULL_RE), c).otherwise(quote_name(c))


def series_ref(name: Column, pairs: "Column | None" = None) -> Column:
    """A sample-line series reference: classic ``name{pairs}`` /
    ``name`` when the (suffixed) sample name fits the legacy charset,
    the 3.x quoted form ``{"name",pairs}`` / ``{"name"}`` otherwise —
    the OTel-style dotted-name (`web.click`) serialization. One
    expression, pure codegen; every writer leg routes through it so
    the two dialects cannot drift."""
    classic = name.rlike(_CLASSIC_FULL_RE)
    bare = F.when(classic, name).otherwise(
        F.concat(F.lit("{"), quote_name(name), F.lit("}"))
    )
    if pairs is None:
        return bare
    with_pairs = F.when(
        classic, F.concat(name, F.lit("{"), pairs, F.lit("}"))
    ).otherwise(
        F.concat(
            F.lit("{"), quote_name(name), F.lit(","), pairs, F.lit("}")
        )
    )
    # an empty label set renders the bare form (`{"name",}` would be
    # ungrammatical in the quoted dialect)
    return F.when(
        F.coalesce(pairs, F.lit("")) == "", bare
    ).otherwise(with_pairs)

#: OpenMetrics HELP text — one deterministic docstring per family
#: (prometheus-cpp families carry a help string; the engine's registry
#: uses a fixed phrase so both oracle engines render it identically).
_OM_HELP = " Series exported by the metrics registry."

#: OpenMetrics UNIT metadata — one deterministic unit per kind,
#: emitted at the same (metric, kind) granularity as the `# TYPE`
#: lines. The registry's families are synthetic event types without a
#: unit suffix in the name; a production registry should name
#: families `<name>_<unit>` per the OM spec's suffix rule — the
#: grouping/serialization machinery here is what carries over.
_OM_UNITS = {
    "counter": "events",
    "gauge": "level",
    "histogram": "observations",
}

#: OpenMetrics exemplar suffix grammar: ` # {labels} value [ts]`.
#: Anchored AFTER the sample value and its OPTIONAL timestamp
#: (`} <value>[ <ts>] # {`): label values may legally contain ` # {`
#: (only \, " and newline are escaped), so a strip from the FIRST
#: ` # {` anywhere would truncate the sample. Greedy `.*` pins the
#: match to the LAST candidate — the true exemplar, since nothing
#: after it can contain ` # {` again; the optional-timestamp group
#: backtracks to empty when the token after the value is the
#: exemplar's `#` marker.
_EXEMPLAR_RE = r"^(.*\} [^ ]+(?: [^ ]+)?) # \{.*$"


def openmetrics_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OpenMetrics dialect of the scrape payload: `# HELP` lines
    per family, `# UNIT` metadata per (metric, kind) — the spec's
    third metadata line type — the same `# TYPE` + sample body as the
    classic format (counters already carry the `_total` sample-name
    suffix OpenMetrics mandates), and the `# EOF` terminator. One line
    per row.

    The relation is UNORDERED (it is a union); OpenMetrics requires
    `# EOF` as the final serialized line and HELP/TYPE before each
    family's samples — serializers must go through
    :func:`openmetrics_text`, which applies the section order.

    All three sections derive from ONE persisted snapshot — the r6
    version rebuilt `scrape_snapshot` for the HELP and EOF legs on top
    of the body's own snapshot legs, recomputing the registry
    aggregation ~4x per scrape.
    """
    snap = _snap_persisted(spark, sf_dir)
    body = _classic_lines(spark, sf_dir, snap)
    helps = snap.select("metric").distinct().select(
        F.concat(
            F.lit("# HELP "), header_name(F.col("metric")), F.lit(_OM_HELP)
        ).alias("line")
    )
    unit_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _OM_UNITS.items() for x in kv]
        ),
        F.col("kind"),
    )
    units = snap.select("metric", "kind").distinct().select(
        F.concat(
            F.lit("# UNIT "),
            header_name(F.col("metric")),
            F.lit(" "),
            unit_expr,
        ).alias("line")
    )
    eof = spark.range(1).select(F.lit("# EOF").alias("line"))
    return (
        helps.unionByName(units)
        .unionByName(body)
        .unionByName(_created_lines(spark, sf_dir))
        .unionByName(eof)
    )


def _created_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenMetrics `_created` child samples (spec: counters and
    histograms carry a per-MetricPoint creation timestamp): one
    `metric_created{user="…"} <ts>` per counter series (its first
    contributing sample's time) and one unlabeled `metric_created`
    per histogram family. Values are seconds at the payload's 4dp
    pin. One groupBy per leg over the samples relation — the same
    aggregate shape as the snapshot legs."""
    from shards_prometheus_spark.model import samples

    s = samples(spark, sf_dir)
    created_s = F.round(F.min("ts_us") / F.lit(1e6), 4).alias("cs")
    ctr = (
        s.filter(F.col("value") >= 0)
        .groupBy("metric", "label_user")
        .agg(created_s)
        .select(
            F.concat(
                series_ref(
                    F.concat(F.col("metric"), F.lit("_created")),
                    F.concat(
                        F.lit('user="'),
                        esc_label(F.col("label_user")),
                        F.lit('"'),
                    ),
                ),
                F.lit(" "),
                _dec("cs"),
            ).alias("line")
        )
    )
    hist = (
        s.groupBy("metric")
        .agg(created_s)
        .select(
            F.concat(
                series_ref(F.concat(F.col("metric"), F.lit("_created"))),
                F.lit(" "),
                _dec("cs"),
            ).alias("line")
        )
    )
    return ctr.unionByName(hist)


def openmetrics_text(lines: DataFrame) -> str:
    """Serialize an OpenMetrics line relation to payload bytes in spec
    order: families grouped (HELP, TYPE, UNIT, then that family's
    samples, families sorted by name), `# EOF` as the final line."""
    import re as _re

    def _unq(s: str) -> str:
        # driver-side twin of unesc_label (NUL-sentinel backslashes)
        return (
            s.replace("\\\\", "\x00")
            .replace('\\"', '"')
            .replace("\\n", "\n")
            .replace("\x00", "\\")
        )

    _QUOTED = r'"((?:[^"\\]|\\.)*)"'

    def key(line: str):
        if line == "# EOF":
            return (2, "", 0, "", -1.0, "")
        for rank, prefix in (
            (0, "# HELP "),
            (1, "# TYPE "),
            (2, "# UNIT "),
        ):
            if line.startswith(prefix):
                rest = line[len(prefix):]
                qm = _re.match(_QUOTED, rest)
                fam = (
                    _unq(qm.group(1)) if qm else rest.split(" ", 1)[0]
                )
                return (1, fam, rank, "", -1.0, line)
        qm = _re.match(r"^\{" + _QUOTED, line)
        if qm:
            name = _unq(qm.group(1))
        else:
            m = _re.match(_NAME_RE, line)
            name = m.group(1) if m else line
        # sample names carry _total/_bucket/_sum/_count/_created
        # suffixes; group them with their family. `_created` child
        # samples serialize AFTER the family's value samples (rank 4)
        # — the OM parser associates them by label set, not position
        if name.endswith("_created"):
            return (1, name[: -len("_created")], 4, name, -1.0, line)
        fam = _re.sub(r"_(total|bucket|sum|count)$", "", name)
        # OpenMetrics mandates buckets in ASCENDING numeric le order
        # (+Inf last) — a lexicographic sort puts "10" before "5" and
        # "+Inf" first; non-bucket samples keep lexicographic order
        le = -1.0
        if name.endswith("_bucket"):
            lm = _re.search(r'le="([^"]*)"', line)
            if lm:
                try:
                    le = float(lm.group(1))
                except ValueError:
                    le = float("inf")
        return (1, fam, 3, name, le, line)

    return (
        "\n".join(sorted((r["line"] for r in lines.collect()), key=key))
        + "\n"
    )


#: One `key="value"` pair inside an exposition brace body: a classic
#: bare label name or a 3.x quoted (UTF-8) one, value always quoted
#: with the text-format escapes. The quoted-name FIRST element of a
#: 3.x line (`{"web.click_total",user="x"}`) can never match — it is
#: not followed by `="` — so pair extraction skips it structurally.
_PAIR_RE = r'(?:[A-Za-z_][A-Za-z0-9_]*|"(?:[^"\\]|\\.)*")="(?:[^"\\]|\\.)*"'


def _labels_map_expr() -> Column:
    """The FULL label set of one exposition line as a
    MAP<STRING,STRING>: every `k="v"` pair in the brace body (classic
    and quoted-name/quoted-key dialects), keys and values unescaped.
    Pure regexp/higher-order expressions — codegen, zero shuffles,
    streaming-safe. A (malformed) duplicate key keeps its first
    occurrence rather than failing the scrape; a label-less line
    yields the empty map."""
    body = F.when(
        F.col("line").contains("{"),
        F.regexp_extract("line", r"\{(.*)\}", 1),
    ).otherwise(F.lit(""))
    pairs = F.regexp_extract_all(body, F.lit(_PAIR_RE), 0)

    def entry(p: Column) -> Column:
        key = F.when(
            p.startswith('"'),
            unesc_label(
                F.regexp_extract(p, r'^"((?:[^"\\]|\\.)*)"', 1)
            ),
        ).otherwise(
            F.regexp_extract(p, r"^([A-Za-z_][A-Za-z0-9_]*)", 1)
        )
        return F.struct(
            key.alias("key"),
            unesc_label(
                F.regexp_extract(p, r'="((?:[^"\\]|\\.)*)"$', 1)
            ).alias("value"),
        )

    entries = F.transform(pairs, entry)
    first_only = F.filter(
        entries,
        lambda e, i: ~F.array_contains(
            F.transform(
                F.slice(entries, F.lit(1), i), lambda x: x["key"]
            ),
            e["key"],
        ),
    )
    return F.map_from_entries(first_only)


def classify_lines(
    lines: DataFrame,
    with_timestamps: bool = False,
    with_labels: bool = False,
) -> DataFrame:
    """Per-row exposition classifier: text lines → typed relation,
    kind recovered from the line SHAPE (`_total` → counter,
    `_bucket`/`_sum`/`_count` → histogram, quantile-labelled bare
    name → summary, other bare names → gauge).

    Pure regexp expressions (JVM-side, codegen), zero shuffles — which
    also makes it STREAMING-safe: the scrape-loop source maps each
    micro-batch of raw lines through this with no stateful operator.
    Comments (`# HELP`/`# TYPE`/`# EOF`) are dropped; exemplar
    suffixes must be stripped by the caller. OpenMetrics `_created`
    child samples pass THROUGH this per-row classifier (as gauges of
    their suffixed name) — discrimination is the header join's job:
    `_parse_payload` drops a `metric_created` row exactly when no
    `# TYPE metric_created …` header claims it as a real family, so a
    legitimately-named `tickets_created` gauge survives while
    `click_created` metadata does not (the `openmetrics_created` side
    relation parses the metadata form). Output: (metric, kind, stat,
    label_user, le, value) plus any NON-`line` input columns carried
    through (the scrape loop threads target/scrape stamps).

    ALL `k="v"` pairs parse into a label map (`_labels_map_expr`);
    `label_user`/`le` flatten FROM that map, so a multi-label payload
    (a node_exporter-style exporter, the engine's own
    `exposition_lines_multi` writer) keeps distinct series distinct
    regardless of pair order or count. `with_labels=True` emits the
    map itself as a `labels` column — the scrape loop's registry path
    — while the default keeps the classic flattened schema."""
    extra = [c for c in lines.columns if c != "line"]
    # 3.x quoted-name lines (`{"web.click_total",user="x"} 5`) carry
    # the (suffixed) sample name as the braces' first element; classic
    # lines as a bare prefix. Both parse with pure regexp codegen.
    quoted = F.col("line").startswith('{"')
    raw = F.when(
        quoted, unesc_label(F.regexp_extract("line", _QNAME_RE, 1))
    ).otherwise(F.regexp_extract("line", _NAME_RE, 1))
    # try_cast, not cast: under ANSI the optimizer constant-folds
    # these expressions over literal comment rows (`# EOF`) BEFORE
    # the comment filter prunes them — a plan-time crash; malformed
    # values must degrade to NULL, never fail the scrape
    if with_timestamps:
        # the classic grammar allows `… value [timestamp]` — without
        # this split a timestamped third-party payload would parse
        # the TIMESTAMP as the value. Structural tail: everything
        # after the LAST `}` (label values may contain `}` only
        # inside quotes, i.e. before the structural closer), or after
        # the bare name for label-less lines.
        tail = F.when(
            F.col("line").contains("}"),
            F.substring_index(F.col("line"), "}", -1),
        ).otherwise(F.regexp_replace("line", r"^\S+", ""))
        toks = F.split(F.ltrim(tail), " ")
        value_cols = [
            F.element_at(toks, 1).try_cast("double").alias("value"),
            F.when(
                F.size(toks) >= 2,
                F.element_at(toks, 2).try_cast("double"),
            ).alias("exposed_ts"),
        ]
        extra = ["exposed_ts", *extra]  # carried through below
    else:
        value_cols = [
            F.regexp_extract("line", r" ([^ ]+)$", 1)
            .try_cast("double")
            .alias("value")
        ]
    parsed = lines.filter(~F.col("line").startswith("#")).select(
        *[c for c in extra if c != "exposed_ts"],
        raw.alias("raw"),
        _labels_map_expr().alias("labels"),
        *value_cols,
    )

    def strip(n: int) -> Column:
        return F.expr(f"substring(raw, 1, length(raw) - {n})")

    classified = parsed.select(
        *extra,
        F.when(F.col("raw").endswith("_bucket"), strip(7))
        .when(F.col("raw").endswith("_total"), strip(6))
        .when(F.col("raw").endswith("_sum"), strip(4))
        .when(F.col("raw").endswith("_count"), strip(6))
        .otherwise(F.col("raw"))
        .alias("metric"),
        F.when(F.col("raw").endswith("_bucket"), F.lit("bucket"))
        .when(F.col("raw").endswith("_total"), F.lit("total"))
        .when(F.col("raw").endswith("_sum"), F.lit("sum"))
        .when(F.col("raw").endswith("_count"), F.lit("count"))
        .otherwise(F.lit("value"))
        .alias("stat"),
        F.element_at("labels", F.lit("user")).alias("label_user"),
        F.element_at("labels", F.lit("le")).alias("le"),
        "value",
        "labels",
    ).withColumn(
        "kind",
        F.when(F.col("stat") == "total", F.lit("counter"))
        # a quantile-labelled bare-name sample is a SUMMARY series
        # (upstream: `x{quantile="0.5"}` + x_sum/x_count; the _sum/
        # _count siblings get their family-level rewrite in
        # classify_summary_families — per-row shape cannot see them)
        .when(
            (F.col("stat") == "value")
            & F.array_contains(F.map_keys("labels"), "quantile"),
            F.lit("summary"),
        )
        .when(F.col("stat") == "value", F.lit("gauge"))
        .otherwise(F.lit("histogram")),
    )
    keep = ["metric", "kind", "stat", "label_user", "le", "value"]
    if with_labels:
        keep.append("labels")
    return classified.select(*keep, *extra)


def classify_summary_families(classified: DataFrame) -> DataFrame:
    """Family-level summary-kind completion (batch contexts): a
    family whose bare-name samples carry a `quantile` label is a
    SUMMARY, so its `x_sum`/`x_count` siblings — per-row shape says
    histogram — rewrite to kind='summary' too (upstream's metadata
    for a scraped summary family). One tiny distinct over family
    names broadcast back; not applied on the zero-state streaming
    path (a per-batch self-aggregate), where per-row classification
    already keeps quantile series distinct and queryable."""
    fams = (
        classified.filter(F.col("kind") == "summary")
        .select(F.col("metric").alias("_summary_fam"))
        .distinct()
    )
    out = classified.join(
        F.broadcast(fams),
        F.col("metric") == F.col("_summary_fam"),
        "left",
    )
    return out.withColumn(
        "kind",
        F.when(
            F.col("_summary_fam").isNotNull()
            & F.col("stat").isin("sum", "count", "value"),
            F.lit("summary"),
        ).otherwise(F.col("kind")),
    ).drop("_summary_fam")


def _parse_payload(lines: DataFrame) -> DataFrame:
    """Shared exposition parser body: `classify_lines` plus header
    VALIDATION — the shape-recovered kind is checked against the
    `# TYPE` headers by an inner join on (metric, kind), so a
    header-less or mistyped series drops out rather than passing
    through silently. Output: (metric, kind, stat, label_user, le,
    value)."""
    hdr_re = r"^# TYPE (\S+) (\S+)$"
    # 3.x quoted header names: `# TYPE "web.click" counter`
    qhdr_re = r'^# TYPE "((?:[^"\\]|\\.)*)" (\S+)$'
    qhdr = F.col("line").startswith('# TYPE "')
    headers = (
        lines.filter(F.col("line").startswith("# TYPE "))
        .select(
            F.when(
                qhdr,
                unesc_label(F.regexp_extract("line", qhdr_re, 1)),
            )
            .otherwise(F.regexp_extract("line", hdr_re, 1))
            .alias("metric"),
            F.when(qhdr, F.regexp_extract("line", qhdr_re, 2))
            .otherwise(F.regexp_extract("line", hdr_re, 2))
            .alias("kind"),
        )
        .distinct()
    )
    return classify_lines(lines).join(
        F.broadcast(headers), ["metric", "kind"]
    )


def exposition_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrape *source*: parse the classic text exposition payload back
    into a typed relation — the inverse of `exposition_lines`, i.e.
    what a scraper does with the reference's endpoint output (the text
    format emitted behind prometheus.cpp:80's collectable).

    The payload is persisted across the round trip: `_parse_payload`
    scans it twice (the `# TYPE` header leg and the sample body leg),
    and without the cache each scan would re-run the whole
    serialization tree. Memoized per (app, sf_dir), released by
    clear_caches() — not a per-call persist."""
    # repartitioned at persist: the payload is a UNION of a dozen
    # render legs whose cached partitions otherwise concatenate into
    # 50+ fragments — every downstream parse scan then pays one tiny
    # task per fragment (guide §2.2/§6 small-partition overhead). One
    # core-count-wide layout parallelizes the regex parse exactly.
    return _parse_payload(
        _memo_persist(
            spark,
            sf_dir,
            "expo_payload",
            lambda: exposition_lines(spark, sf_dir).repartition(
                spark.sparkContext.defaultParallelism
            ),
        )
    )


def _with_exemplars(lines: DataFrame) -> DataFrame:
    """Fixture decoration: attach a deterministic PER-SERIES exemplar
    suffix to every counter sample line (OpenMetrics allows exemplars
    on counter and histogram samples): the trace_id derives from the
    series' user label and the exemplar value/timestamp from the
    sample's own rendered value, so the parsed exemplar relation
    varies per series instead of repeating a constant. The parse demo
    proves the scraper accepts exemplars; `openmetrics_exemplars` +
    `/api/v1/query_exemplars` prove it KEEPS them (VERDICT r9: they
    were "the only data the scrape source throws away")."""
    is_counter = F.col("line").rlike(
        r"^[A-Za-z_:][A-Za-z0-9_:]*_total\{"
    )
    # OpenMetrics allows exemplars on histogram BUCKET samples too —
    # decorate them with an le-derived trace so both legal exemplar
    # positions are exercised
    is_bucket = F.col("line").rlike(
        r"^[A-Za-z_:][A-Za-z0-9_:]*_bucket\{"
    )
    # at decoration time the line has exactly one label block and its
    # last token is the rendered sample value
    user = F.regexp_extract("line", r'\{user="((?:[^"\\]|\\.)*)"\}', 1)
    le = F.regexp_extract("line", r'\{le="((?:[^"\\]|\\.)*)"\}', 1)
    val = F.regexp_extract("line", r" ([^ ]+)$", 1)

    def suffix(tid_prefix: str, tid: Column) -> Column:
        return F.concat(
            F.col("line"),
            F.lit(f' # {{trace_id="{tid_prefix}'),
            tid,
            F.lit('"} '),
            val,
            F.lit(" "),
            val,
        )

    return lines.select(
        F.when(is_counter, suffix("t-", user))
        .when(is_bucket, suffix("b-", le))
        .otherwise(F.col("line"))
        .alias("line")
    )


def _om_payload_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECORATED OpenMetrics payload (exemplar suffixes attached),
    memoized per (app, sf_dir) — shared by the parse round trip (which
    strips the suffixes) and the exemplar side relation (which keeps
    them), released by clear_caches()."""
    # repartitioned at persist — same fragment-coalescing rationale as
    # the classic payload memo in exposition_parse
    return _memo_persist(
        spark,
        sf_dir,
        "om_payload",
        lambda: _with_exemplars(
            openmetrics_lines(spark, sf_dir)
        ).repartition(spark.sparkContext.defaultParallelism),
    )


def openmetrics_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrape source for a MODERN endpoint: parse an OpenMetrics
    payload — `# HELP`/`# EOF` lines and exemplar-bearing counter
    samples (exemplar suffixes stripped from the SAMPLE relation; the
    exemplars themselves land in `openmetrics_exemplars`) — into the
    same typed relation as the classic parser."""
    payload = _om_payload_persisted(spark, sf_dir)
    # the strip is a cheap projection over the persisted payload, run
    # once per _parse_payload scan (headers + body)
    return _parse_payload(
        payload.select(
            F.regexp_replace("line", _EXEMPLAR_RE, "$1").alias("line")
        )
    )


#: exemplar-bearing sample grammars (the fixture's two shapes, the
#: two positions OpenMetrics permits exemplars in):
#: `name_total{user="…"} value # {trace_id="…"} ex_value ex_ts`
#: `name_bucket{le="…"} count # {trace_id="…"} ex_value ex_ts`
_EX_PARSE_RE = (
    r'^([A-Za-z_:][A-Za-z0-9_:]*)_total\{user="((?:[^"\\]|\\.)*)"\} '
    r'[^ ]+ # \{trace_id="((?:[^"\\]|\\.)*)"\} ([^ ]+) ([^ ]+)$'
)
_EX_BUCKET_RE = (
    r'^([A-Za-z_:][A-Za-z0-9_:]*_bucket)\{le="((?:[^"\\]|\\.)*)"\} '
    r'[^ ]+ # \{trace_id="((?:[^"\\]|\\.)*)"\} ([^ ]+) ([^ ]+)$'
)


def openmetrics_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplar SIDE RELATION: parse the exemplar suffixes off the
    OpenMetrics payload into (metric, label_user, le, trace_id,
    ex_value, ex_ts) — what `/api/v1/query_exemplars` serves. Before
    r10 the scraper parsed exemplars only to discard them; this keeps
    them as a first-class relation next to the sample relation,
    mirroring how the paired server stores exemplars beside series
    data (the reference itself delegates exemplar storage to that
    server). Both legal exemplar positions are covered: counter
    samples (metric = the family name, the evaluator's counter
    selector convention) and histogram bucket samples (metric keeps
    the `_bucket` suffix with the `le` label, the evaluator's
    synthetic bucket-selector convention).

    Scale shape: two filters + per-line regexp projections over the
    same persisted payload `openmetrics_parse` reads, unioned
    plan-level — pure codegen, no extra shuffle, no second
    serialization pass."""
    payload = _om_payload_persisted(spark, sf_dir)

    def leg(pattern: str, metric_g, user_col, le_col) -> DataFrame:
        ex = payload.filter(F.col("line").rlike(pattern))
        return ex.select(
            metric_g.alias("metric"),
            user_col.alias("label_user"),
            le_col.alias("le"),
            unesc_label(F.regexp_extract("line", pattern, 3)).alias(
                "trace_id"
            ),
            F.regexp_extract("line", pattern, 4)
            .try_cast("double")
            .alias("ex_value"),
            F.regexp_extract("line", pattern, 5)
            .try_cast("double")
            .alias("ex_ts"),
        )

    counters = leg(
        _EX_PARSE_RE,
        F.regexp_extract("line", _EX_PARSE_RE, 1),
        unesc_label(F.regexp_extract("line", _EX_PARSE_RE, 2)),
        F.lit(None).cast("string"),
    )
    buckets = leg(
        _EX_BUCKET_RE,
        F.regexp_extract("line", _EX_BUCKET_RE, 1),
        F.lit(None).cast("string"),
        unesc_label(F.regexp_extract("line", _EX_BUCKET_RE, 2)),
    )
    return counters.unionByName(buckets)


#: `_created` child-sample grammars (the two shapes `_created_lines`
#: emits): labeled counter-series timestamps and unlabeled
#: histogram-family timestamps.
_CREATED_CTR_RE = (
    r'^([A-Za-z_:][A-Za-z0-9_:]*)_created\{user="((?:[^"\\]|\\.)*)"\}'
    r" ([^ ]+)$"
)
_CREATED_HIST_RE = r"^([A-Za-z_:][A-Za-z0-9_:]*)_created ([^ ]+)$"


def openmetrics_created(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_created` SIDE RELATION: parse the OpenMetrics creation
    timestamps off the payload into (metric, kind, label_user,
    created_s) — metadata beside the sample relation, the same
    side-channel treatment as exemplars (an OM-strict scraper needs
    the lines; the sample relation must never see them as phantom
    gauges). Pure per-line regexp projections over the same persisted
    payload `openmetrics_parse` reads — no extra shuffle."""
    payload = _om_payload_persisted(spark, sf_dir)
    ctr = payload.filter(F.col("line").rlike(_CREATED_CTR_RE)).select(
        F.regexp_extract("line", _CREATED_CTR_RE, 1).alias("metric"),
        F.lit("counter").alias("kind"),
        unesc_label(
            F.regexp_extract("line", _CREATED_CTR_RE, 2)
        ).alias("label_user"),
        F.regexp_extract("line", _CREATED_CTR_RE, 3)
        .try_cast("double")
        .alias("created_s"),
    )
    hist = payload.filter(F.col("line").rlike(_CREATED_HIST_RE)).select(
        F.regexp_extract("line", _CREATED_HIST_RE, 1).alias("metric"),
        F.lit("histogram").alias("kind"),
        F.lit(None).cast("string").alias("label_user"),
        F.regexp_extract("line", _CREATED_HIST_RE, 2)
        .try_cast("double")
        .alias("created_s"),
    )
    return ctr.unionByName(hist)


def federate_lines(
    spark: SparkSession, sf_dir: str, matches: list[str]
) -> DataFrame:
    """`/federate`: the classic text-format dump pruned to the series
    matching any `match[]` selector (selectors UNION, the public
    federation semantics) — what one Prometheus serves when another
    scrapes it. Composes the selector machinery (`apply_matchers`,
    missing label == "", RE2-anchored regexes) with the existing
    exposition writer, so the output is byte-format-identical to
    `exposition_lines` filtered to the matched series, `# TYPE`
    headers included (headers derive from the FILTERED snapshot — a
    family appears iff at least one of its series matched).

    Scale shape: the match predicate filters the registry-sized
    persisted snapshot before line rendering; bucket lines are
    admitted by deciding each selector against each bucket series'
    actual label set ({le: bound}) driver-side — the bound list is a
    registry constant, so the decision is a constant-sized literal
    predicate and no extra scan or shuffle is added over the plain
    exposition plan."""
    import re as _re

    from shards_prometheus_spark.functions.labelset import apply_matchers
    from shards_prometheus_spark.functions.promql_parser import (
        Selector,
        parse,
    )

    if not matches:
        raise ValueError("no match[] parameter provided")
    sels = []
    for m in matches:
        node = parse(m)
        if not isinstance(node, Selector) or node.range_us is not None:
            raise ValueError(f"invalid series selector {m!r}")
        sels.append(node)
    snap = _snap_persisted(spark, sf_dir)
    lab = snap.withColumn(
        "labels", F.create_map(F.lit("user"), F.col("label_user"))
    )
    parts = [
        apply_matchers(lab.filter(F.col("metric") == s.metric), s.matchers)
        for s in sels
    ]
    keep = parts[0]
    for p in parts[1:]:
        keep = keep.unionByName(p)
    # a series matching several selectors must render ONCE (snapshot
    # rows are unique per (kind, metric, label_user, stat), so the
    # distinct is registry-sized)
    snap_f = keep.drop("labels").distinct()

    def _matches_labels(s: "Selector", labels: "dict[str, str]") -> bool:
        # a bucket series' label set is {le: bound} — decide each
        # selector against it driver-side (missing label == "", the
        # same convention as apply_matchers), so a selector
        # constraining `le` (e.g. view{le="+Inf"}) admits exactly the
        # matching bucket rows
        for label, op, val in s.matchers:
            got = labels.get(label, "")
            if op == "=" and got != val:
                return False
            if op == "!=" and got == val:
                return False
            if op in ("=~", "!~"):
                # only regex ops may interpret val as a pattern — an
                # equality matcher's value can contain regex
                # metacharacters (`user="a(b"`) and must not be
                # compiled
                hit = _re.fullmatch(val, got) is not None
                if op == "=~" and not hit:
                    return False
                if op == "!~" and hit:
                    return False
        return True

    from shards_prometheus_spark.operators.histograms import _LE_LABELS

    bucket_admit: dict[str, set] = {}
    for s in sels:
        admitted = {
            le for le in _LE_LABELS if _matches_labels(s, {"le": le})
        }
        if admitted:
            bucket_admit.setdefault(s.metric, set()).update(admitted)
    return _classic_lines(
        spark, sf_dir, snap_f, bucket_admit=bucket_admit
    )


def _esc_label_py(v: str) -> str:
    """Driver-side twin of esc_label (the public format's three
    escapes, backslash first)."""
    return (
        v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    )


def _scan_label_names(inner: str) -> "set[str]":
    """Label NAMES present in one rendered label-brace interior —
    top-level comma split respecting quoted values (and quoted 3.x
    keys / the quoted-metric-name first element, which has no `=`).
    Escapes inside quotes (\\" etc.) are honored."""
    names: set[str] = set()
    i, n = 0, len(inner)
    start = 0
    in_q = False
    esc = False
    eq = -1
    while i <= n:
        ch = inner[i] if i < n else ","  # virtual trailing comma
        if in_q:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_q = False
        elif ch == '"':
            in_q = True
        elif ch == "=" and eq < 0:
            eq = i
        elif ch == ",":
            if eq > start:
                key = inner[start:eq].strip()
                if key.startswith('"') and key.endswith('"'):
                    key = key[1:-1]
                if key:
                    names.add(key)
            start, eq = i + 1, -1
        i += 1
    return names


def inject_external_labels(
    lines: "list[str]", external_labels: "dict | None"
) -> "list[str]":
    """`global.external_labels` on the /federate boundary: upstream
    attaches them to every federated sample whose series does not
    already carry the label (federation output identifies WHICH
    server the series came from), leaving `# TYPE` headers alone.
    Text-level merge over the collected payload — the payload is
    already boundary-sized by contract (it IS the HTTP response),
    so this adds no Spark work. Handles all four rendered series
    shapes: ``name v``, ``name{pairs} v``, ``{"utf8.name"} v``,
    ``{"utf8.name",pairs} v``."""
    if not external_labels:
        return list(lines)
    ext = sorted(external_labels.items())
    out = []
    for ln in lines:
        if not ln or ln.startswith("#"):
            out.append(ln)
            continue
        # locate the label braces (or the name/value split)
        if ln.startswith("{"):
            open_i = 0
        else:
            sp = ln.find(" ")
            br = ln.find("{")
            if br < 0 or (0 <= sp < br):  # bare name, no braces
                name, rest = ln[:sp], ln[sp:]
                missing = [
                    f'{k}="{_esc_label_py(v)}"' for k, v in ext
                ]
                out.append(name + "{" + ",".join(missing) + "}" + rest)
                continue
            open_i = br
        # find the MATCHING close brace (quotes/escapes honored)
        j, in_q, esc2 = open_i + 1, False, False
        while j < len(ln):
            ch = ln[j]
            if in_q:
                if esc2:
                    esc2 = False
                elif ch == "\\":
                    esc2 = True
                elif ch == '"':
                    in_q = False
            elif ch == '"':
                in_q = True
            elif ch == "}":
                break
            j += 1
        inner = ln[open_i + 1 : j]
        present = _scan_label_names(inner)
        missing = [
            f'{k}="{_esc_label_py(v)}"'
            for k, v in ext
            if k not in present
        ]
        if not missing:
            out.append(ln)
            continue
        joiner = "," if inner.strip() else ""
        out.append(
            ln[: open_i + 1]
            + inner
            + joiner
            + ",".join(missing)
            + ln[j:]
        )
    return out


#: the registered federate demo: one regex-matcher selector (whose
#: matchers REJECT the empty label set, so click's label-less
#: histogram series is pruned) and one bare-family selector (view —
#: all three kinds federate, buckets included).
FEDERATE_MATCHES = ['click{user=~"[0-3].*"}', "view"]


def federate_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`/federate?match[]=click{user=~"[0-3].*"}&match[]=view` as a
    relation — the registered twin of the HTTP endpoint."""
    return federate_lines(spark, sf_dir, FEDERATE_MATCHES)


def _resolve_dropped_targets(spark, cfg) -> "list[dict]":
    """Targets the loaded config's relabel hop ELIMINATES, as their
    pre-relabel discovered label sets — what `/api/v1/targets` serves
    in `droppedTargets`. Resolved once per config load/reload (the
    same cadence upstream's scrape manager recomputes its pools);
    jobs without relabel rules cannot drop and are skipped, so a
    plain config costs nothing here."""
    from shards_prometheus_spark.sources.scrape_config import (
        resolve_targets_full,
    )

    out: list = []
    for job in cfg.jobs:
        if not job.relabel_configs:
            continue
        try:
            _active, dropped = resolve_targets_full(spark, job)
        except Exception:  # noqa: BLE001 - a dead SD endpoint etc.
            continue  # must not fail exposer construction
        out.extend(
            {"discoveredLabels": d, "scrapePool": job.job_name}
            for d in dropped
        )
    return out


class MetricsExposer:
    """HTTP pull endpoint serving the exposition payload — the literal
    analog of the reference's Exposer (HTTP server started at
    prometheus.cpp:73, registry collected on scrape via the collectable
    registered at prometheus.cpp:80; default endpoint 127.0.0.1:9090,
    prometheus.cpp:47).

    Collect-on-scrape: each GET /metrics re-runs the snapshot query, so
    the payload reflects the current relation exactly as the reference
    re-collects its registry per scrape. For a streaming registry,
    point it at the memory-sink table instead.
    """

    def __init__(
        self,
        spark,
        sf_dir: str = "",
        host: str = "127.0.0.1",
        port: int = 0,
        lines_fn=None,
        openmetrics: bool = False,
        samples_fn=None,
        rule_file: str | None = None,
        max_samples: int | None = None,
        query_timeout_s: float | None = None,
        exemplars_fn=None,
        remote_write: bool = False,
        otlp_receiver: bool = False,
        otlp_convert_delta: bool = False,
        otlp_promote_resource_attributes: "list[str] | None" = None,
        otlp_promote_scope_metadata: bool = False,
        otlp_keep_identifying_resource_attributes: bool = False,
        scrape_config: str | None = None,
        scrape_config_path: str | None = None,
        alertmanagers: "list[str] | None" = None,
        admin_api: bool = False,
        snapshot_dir: str | None = None,
        enable_lifecycle: bool = False,
        external_labels: "dict | None" = None,
    ):
        """`lines_fn` (optional): zero-arg callable returning the line
        DataFrame — lets the exposer serve a LIVE source (a streaming
        memory-sink registry) instead of the batch sf_dir relations;
        collect-on-scrape semantics are identical either way.
        ``openmetrics=True`` serves the OpenMetrics dialect instead:
        payload from `openmetrics_lines` (or `lines_fn`), serialized in
        spec order by `openmetrics_text` (HELP/TYPE before each
        family's samples, `# EOF` final) with the OpenMetrics
        content type.

        The read API (`/api/v1/query`, `/api/v1/query_range` —
        sources/query_api.py) is served over the §1.2 samples relation:
        `samples_fn` (zero-arg callable, for a live registry) if given,
        else `samples_multi(spark, sf_dir)`. Each request builds a
        fresh evaluator over the current relation — collect-on-query,
        the read twin of collect-on-scrape. `rule_file` (YAML text in
        the public rule-file shape) makes `/api/v1/rules` and
        `/api/v1/alerts` serve the USER's groups — chaining and hold
        semantics included — instead of the built-in demo groups.

        `max_samples` / `query_timeout_s` are the paired server's
        public query-safety flags (`--query.max-samples`,
        `--query.timeout`): a query whose result would collect more
        than `max_samples` rows fails with the public 422 envelope
        via a plan-level LIMIT probe, and a request overrunning the
        timeout answers 503/`timeout` with its in-flight Spark jobs
        cancelled (query_api.handle_api_request)."""
        import http.server
        import json
        import threading
        from urllib.parse import parse_qs, urlsplit

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def _api(self, extra_params: dict | None = None) -> bool:
                parts = urlsplit(self.path)
                if not parts.path.startswith("/api/"):
                    return False
                params = parse_qs(parts.query)
                for k, v in (extra_params or {}).items():
                    params.setdefault(k, []).extend(v)
                status, payload = outer.handle_api(
                    parts.path, params, method=self.command
                )
                if status == 204:
                    # admin success contract: no content
                    self.send_response(204)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return True
                body = json.dumps(payload).encode()
                self.send_response(status)
                # the public API serves CORS-open JSON (upstream's
                # default --web.cors.origin) so browser dashboards work
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return True

            def do_POST(self):  # noqa: N802 - stdlib contract
                parts = urlsplit(self.path)
                if self._lifecycle():
                    return
                if parts.path == "/api/v1/write":
                    # the remote-write RECEIVER (upstream's
                    # --web.enable-remote-write-receiver): raw
                    # snappy+proto body, 204 on success, 400 on a
                    # corrupt payload, 413 over the body cap, 500 on
                    # internal failure, 404 when the flag is off
                    # (shared body: remote_write.handle_write_post)
                    if not outer._remote_write:
                        self.send_error(404)
                        return
                    from shards_prometheus_spark.sources.remote_write import (  # noqa: E501
                        handle_write_post,
                    )

                    handle_write_post(self, outer.receive_remote_write)
                    return
                if parts.path == "/api/v1/otlp/v1/metrics":
                    # the 3.x OTLP receiver (upstream:
                    # --web.enable-otlp-receiver): OTLP metrics
                    # translate into the SAME pushed store the
                    # remote-write receiver feeds, so the read API
                    # serves them with no extra path (sources/otlp.py)
                    if not outer._otlp_receiver:
                        self.send_error(404)
                        return
                    from shards_prometheus_spark.sources.otlp import (
                        handle_otlp_post,
                        parse_otlp_request_full,
                    )

                    def _otlp_receive(raw):
                        rows, rejected, msgs, delta_keys = (
                            parse_otlp_request_full(
                                raw,
                                convert_delta=outer._otlp_convert_delta,
                                promote_resource_attributes=(
                                    outer._otlp_promote or None
                                ),
                                promote_scope_metadata=(
                                    outer._otlp_promote_scope
                                ),
                                keep_identifying_resource_attributes=(
                                    outer._otlp_keep_identifying
                                ),
                            )
                        )
                        if delta_keys:
                            rows = outer._accumulate_otlp_deltas(
                                rows, delta_keys
                            )
                        outer._rw.ingest_rows(rows)
                        if rejected:
                            return rejected, "; ".join(msgs)
                        return None

                    handle_otlp_post(self, _otlp_receive)
                    return
                if parts.path == "/api/v1/read":
                    # remote-read: snappy+proto ReadRequest in; the
                    # response type is NEGOTIATED via the request's
                    # accepted_response_types (prompb field 2) — the
                    # default snappy+proto ReadResponse (SAMPLES), or
                    # the uvarint+CRC32C-framed ChunkedReadResponse
                    # stream of Gorilla XOR chunks
                    # (STREAMED_XOR_CHUNKS, sources/chunkenc.py) when
                    # the client accepts it, exactly upstream's
                    # first-supported-type pick. 400 on a corrupt
                    # payload or over-limit query, 413 over the body
                    # cap, 500 on internal failure
                    from shards_prometheus_spark.sources.chunkenc import (  # noqa: E501
                        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
                        STREAMED_CONTENT_TYPE,
                    )
                    from shards_prometheus_spark.sources.remote_read import (  # noqa: E501
                        answer_read_request,
                        answer_read_request_chunked,
                        parse_read_request_full,
                    )
                    from shards_prometheus_spark.sources.remote_write import (  # noqa: E501
                        MAX_WRITE_BODY_BYTES,
                    )

                    n = int(self.headers.get("Content-Length") or 0)
                    if n > MAX_WRITE_BODY_BYTES:
                        self.send_error(413)
                        return
                    raw = self.rfile.read(n)
                    try:
                        _qs, accepted = parse_read_request_full(raw)
                        streamed = (
                            RESPONSE_TYPE_STREAMED_XOR_CHUNKS in accepted
                        )
                        if streamed:
                            body = answer_read_request_chunked(
                                outer.read_samples(), raw
                            )
                        else:
                            body = answer_read_request(
                                outer.read_samples(), raw
                            )
                    except ValueError as exc:
                        msg = str(exc).encode()
                        self.send_response(400)
                        self.send_header(
                            "Content-Length", str(len(msg))
                        )
                        self.end_headers()
                        self.wfile.write(msg)
                        return
                    except Exception as exc:  # noqa: BLE001 - 5xx
                        msg = str(exc).encode()
                        self.send_response(500)
                        self.send_header(
                            "Content-Length", str(len(msg))
                        )
                        self.end_headers()
                        self.wfile.write(msg)
                        return
                    self.send_response(200)
                    if streamed:
                        # framed chunk stream: no outer snappy (the
                        # chunks are already compressed)
                        self.send_header(
                            "Content-Type", STREAMED_CONTENT_TYPE
                        )
                    else:
                        self.send_header(
                            "Content-Type", "application/x-protobuf"
                        )
                        self.send_header("Content-Encoding", "snappy")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                # the public API accepts form-encoded POST bodies
                # (Grafana's default for long query strings)
                n = int(self.headers.get("Content-Length") or 0)
                form = parse_qs(self.rfile.read(n).decode())
                if not self._api(form):
                    self.send_error(404)

            def _text(self, status: int, body: str) -> None:
                raw = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def _lifecycle(self) -> bool:
                """`/-/healthy` `/-/ready` (always on, upstream) and
                `/-/reload` (POST/PUT, gated behind enable_lifecycle
                — upstream's --web.enable-lifecycle flag)."""
                path = urlsplit(self.path).path.rstrip("/")
                if path in ("/-/healthy", "/-/ready"):
                    if self.command != "GET":
                        self._text(405, "Method Not Allowed\n")
                        return True
                    word = (
                        "Healthy" if path == "/-/healthy" else "Ready"
                    )
                    self._text(
                        200, f"Prometheus Server is {word}.\n"
                    )
                    return True
                if path == "/-/reload":
                    if self.command not in ("POST", "PUT"):
                        self._text(405, "Method Not Allowed\n")
                        return True
                    if not outer._enable_lifecycle:
                        self._text(
                            403, "Lifecycle API is not enabled.\n"
                        )
                        return True
                    try:
                        outer.reload_config()
                    except Exception as exc:  # noqa: BLE001 - 500
                        self._text(
                            500, f"failed to reload config: {exc}\n"
                        )
                        return True
                    self._text(200, "")
                    return True
                if path == "/-/quit":
                    if self.command not in ("POST", "PUT"):
                        self._text(405, "Method Not Allowed\n")
                        return True
                    if not outer._enable_lifecycle:
                        self._text(
                            403, "Lifecycle API is not enabled.\n"
                        )
                        return True
                    # answer first, shut down OFF this handler thread
                    # (shutdown() joins the serve loop — calling it
                    # here would deadlock the request)
                    self._text(
                        200, "Requesting termination... Goodbye!\n"
                    )
                    import threading as _threading

                    _threading.Thread(
                        target=outer.stop, daemon=True
                    ).start()
                    return True
                return False

            def do_PUT(self):  # noqa: N802 - stdlib contract
                if not self._lifecycle():
                    self.send_error(404)

            def do_GET(self):  # noqa: N802 - stdlib contract
                parts = urlsplit(self.path)
                if self._lifecycle():
                    return
                # write-side endpoints are POST-only (upstream's mux
                # answers 405 Method Not Allowed, not 404, when the
                # receiver is enabled)
                if (
                    parts.path == "/api/v1/write"
                    and outer._remote_write
                ) or (
                    parts.path == "/api/v1/otlp/v1/metrics"
                    and outer._otlp_receiver
                ):
                    self.send_error(405)
                    return
                if self._api():
                    return
                if parts.path == "/federate":
                    matches = parse_qs(parts.query).get("match[]") or []
                    try:
                        body = outer.collect_federate_text(matches).encode()
                    except Exception as exc:
                        self.send_response(400)
                        msg = str(exc).encode()
                        self.send_header("Content-Type", "text/plain")
                        self.send_header("Content-Length", str(len(msg)))
                        self.end_headers()
                        self.wfile.write(msg)
                        return
                    self.send_response(200)
                    self.send_header(
                        "Content-Type",
                        "text/plain; version=0.0.4; charset=utf-8",
                    )
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if parts.path.rstrip("/") not in ("", "/metrics"):
                    self.send_error(404)
                    return
                body = outer.collect_text().encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type",
                    "application/openmetrics-text; version=1.0.0; "
                    "charset=utf-8"
                    if outer._openmetrics
                    else "text/plain; version=0.0.4; charset=utf-8",
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # quiet
                pass

        self._spark = spark
        self._sf_dir = sf_dir
        self._lines_fn = lines_fn
        self._openmetrics = openmetrics
        self._samples_fn = samples_fn
        self._exemplars_fn = exemplars_fn
        self._rule_file = rule_file
        self._max_samples = max_samples
        self._query_timeout_s = query_timeout_s
        self._remote_write = remote_write
        self._otlp_receiver = otlp_receiver
        self._otlp_convert_delta = otlp_convert_delta
        #: upstream otlp.promote_resource_attributes: the listed
        #: resource attributes promote to labels on ingest (all
        #: others drop, the default); data-point labels win conflicts
        self._otlp_promote = list(
            otlp_promote_resource_attributes or []
        )
        #: upstream otlp.promote_scope_metadata (3.x): scope
        #: name/version/schema_url + attributes land as otel_scope_*
        #: labels on every sample of the scope
        self._otlp_promote_scope = bool(otlp_promote_scope_metadata)
        #: upstream otlp.keep_identifying_resource_attributes: also
        #: copy service.name/namespace/instance.id into target_info
        self._otlp_keep_identifying = bool(
            otlp_keep_identifying_resource_attributes
        )
        #: running totals per series for the opt-in OTLP
        #: delta-to-cumulative conversion (upstream's
        #: otlp.convert_delta_to_cumulative): series-sized driver
        #: state, same posture as the pushed-store rows themselves
        self._otlp_running: dict = {}
        self._otlp_running_lock = threading.Lock()
        self._scrape_config = scrape_config
        self._scrape_config_path = scrape_config_path
        self._enable_lifecycle = enable_lifecycle
        self._explicit_alertmanagers = alertmanagers is not None
        self._explicit_rule_file = rule_file is not None
        if scrape_config_path is not None and scrape_config is None:
            with open(scrape_config_path) as f:
                self._scrape_config = f.read()
        # the Alertmanager pool: explicit list, else the loaded
        # prometheus.yml's alerting section (upstream: one config file
        # declares both scrape targets and the notification pool)
        self._alert_relabel: list = []
        # global.external_labels: attached at every OUTBOUND boundary
        # (alert push, /federate, remote-write send) — never stored
        # in the local relations, exactly upstream's split. Explicit
        # ctor arg wins (and survives /-/reload); else the loaded
        # config's global section.
        self._external_labels: dict = dict(external_labels or {})
        self._explicit_external_labels = external_labels is not None
        #: relabel-dropped scrape targets (pre-relabel discovered
        #: label sets) + the global keep_dropped_targets cap, served
        #: on /api/v1/targets — resolved at config load and reload
        self._dropped_targets: list = []
        self._keep_dropped_targets = 0
        if self._scrape_config is not None:
            from shards_prometheus_spark.sources.scrape_config import (
                load_scrape_configs,
                resolve_alertmanagers,
            )

            import os as _os

            cfg = load_scrape_configs(
                self._scrape_config,
                base_dir=(
                    _os.path.dirname(_os.path.abspath(scrape_config_path))
                    if scrape_config_path
                    else None
                ),
            )
            o = getattr(cfg, "otlp", None) or {}
            # config-section OTLP knobs: adopted when the constructor
            # flags were left at their defaults (an explicit flag wins)
            if not self._otlp_promote and o.get(
                "promote_resource_attributes"
            ):
                self._otlp_promote = list(
                    o["promote_resource_attributes"]
                )
            if not self._otlp_promote_scope:
                self._otlp_promote_scope = bool(
                    o.get("promote_scope_metadata")
                )
            if not self._otlp_keep_identifying:
                self._otlp_keep_identifying = bool(
                    o.get("keep_identifying_resource_attributes")
                )
            if alertmanagers is None:
                # the discovery relabel hop:
                # alertmanagers[].relabel_configs rewrites/drops pool
                # members before any push
                from shards_prometheus_spark.sources.scrape_config import (  # noqa: E501
                    resolve_alertmanagers_full,
                )

                resolved = resolve_alertmanagers_full(self._spark, cfg)
                alertmanagers = [u for u, _h in resolved]
                self._am_headers = {
                    u: h for u, h in resolved if h
                }
                self._alert_relabel = cfg.alert_relabel_configs
                if rule_file is None and cfg.rule_files:
                    self._rule_file = self._read_rule_files(
                        cfg.rule_files
                    )
            if external_labels is None:
                self._external_labels = dict(cfg.external_labels)
            self._keep_dropped_targets = cfg.keep_dropped_targets
            self._dropped_targets = _resolve_dropped_targets(
                self._spark, cfg
            )
        self._alertmanagers = list(alertmanagers or [])
        if not hasattr(self, "_am_headers"):
            #: per-URL auth headers from the config's alertmanagers[]
            #: entries (empty for an explicit URL list)
            self._am_headers = {}
        # TSDB admin API state (upstream --web.enable-admin-api):
        # tombstones are (metric, matchers, start_us, end_us) masks
        # over the read path — deletion over an immutable parquet
        # store is a filter, not a rewrite
        self._admin_api = admin_api
        self._snapshot_dir = snapshot_dir
        self._tombstones: list = []
        # the push store is THE receiver implementation (one
        # ingest/render code path, not a re-implementation that can
        # drift), just without its own HTTP server — this exposer's
        # handler is the wire
        from shards_prometheus_spark.sources.remote_write import (
            RemoteWriteReceiver,
        )

        self._rw = RemoteWriteReceiver()
        self._server = http.server.ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._server.server_address[:2]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def _accumulate_otlp_deltas(
        self, rows: list, delta_keys: set
    ) -> list:
        """The conversion half of upstream's opt-in
        ``otlp.convert_delta_to_cumulative``: delta points of the
        flagged series accumulate onto per-series running totals held
        across requests (within one request, in timestamp order), so
        the stored samples are the cumulative values every
        rate()/increase() expects. Rows of cumulative series pass
        through untouched.

        Cross-request ordering: the accumulator tracks the LAST
        timestamp it folded per series, and a point at-or-before that
        stamp is DROPPED (not accumulated, not stored) — an
        out-of-order collector replay would otherwise silently
        corrupt the running total. Within one request points sort by
        timestamp first, so only genuinely late arrivals (relative to
        an earlier request) are rejected. This mirrors upstream's
        deltatocumulative processor, which tracks per-series start
        timestamps and drops older-than-state points. The
        ``_otlp_running`` map is series-sized driver state (the same
        posture as the pushed store itself)."""
        out = []
        by_key: dict = {}
        for labels, ts_ms, value in rows:
            k = tuple(sorted(labels.items()))
            if k in delta_keys:
                by_key.setdefault(k, []).append((ts_ms, value, labels))
            else:
                out.append((labels, ts_ms, value))
        with self._otlp_running_lock:
            for k, pts in by_key.items():
                running, last_ts = self._otlp_running.get(
                    k, (0.0, None)
                )
                for ts_ms, value, labels in sorted(
                    pts, key=lambda p: p[0]
                ):
                    if last_ts is not None and ts_ms <= last_ts:
                        continue  # late replay: reject, don't corrupt
                    running += value
                    last_ts = ts_ms
                    out.append((labels, ts_ms, running))
                self._otlp_running[k] = (running, last_ts)
        return out

    def receive_remote_write(
        self, payload: bytes, content_type: "str | None" = None
    ) -> "int | tuple[int, int]":
        """Ingest one remote-write WriteRequest body (the push half of
        the pairing, on the SAME server as /metrics and the read API —
        upstream's remote-write-receiver flag; 1.0 or the 2.0 wire by
        Content-Type). Delegates to the shared RemoteWriteReceiver
        store; returns rows appended — an int for a 1.0 body, the
        (samples, exemplars) pair for a 2.0 one (see
        RemoteWriteReceiver.receive)."""
        return self._rw.receive(payload, content_type)

    def _rw_samples_live(self) -> bool:
        """Whether reads union a pushed store (a push receiver is on
        and holds rows)."""
        return bool(
            (self._remote_write or self._otlp_receiver) and self._rw.n_rows
        )

    def _rw_samples(self):
        """The pushed store as a samples relation (None when empty)."""
        if not self._rw_samples_live():
            return None
        return self._rw.samples(self._spark)

    def read_samples(self):
        """The current §1.2 samples relation this exposer serves —
        the base store (live `samples_fn` or the batch dir) unioned
        with any remote-write pushed state, minus any admin-API
        tombstones (each compiled to ONE negated matcher∧time-range
        condition — a pushable filter, never a rewrite). Shared by
        the JSON read API's evaluator construction, the remote-read
        endpoint, and TSDB snapshots."""
        from shards_prometheus_spark.functions.labelset import (
            matcher_condition,
        )
        from shards_prometheus_spark.model import samples_multi

        base = (
            self._samples_fn()
            if self._samples_fn is not None
            else samples_multi(self._spark, self._sf_dir)
        )
        pushed = self._rw_samples()
        if pushed is not None:
            base = base.unionByName(pushed, allowMissingColumns=True)
        for metric, matchers, s_us, e_us in list(self._tombstones):
            cond = matcher_condition(metric, matchers)
            if s_us is not None:
                cond = cond & (F.col("ts_us") >= F.lit(int(s_us)))
            if e_us is not None:
                cond = cond & (F.col("ts_us") <= F.lit(int(e_us)))
            base = base.filter(~cond)
        if self._rule_file is not None:
            # the ALERTS / ALERTS_FOR_STATE synthetic series upstream
            # records on every rule evaluation — derived here on read
            # from the rule file over the pre-union base (never from
            # itself), so `ALERTS{alertstate="firing"}` — Grafana's
            # documented alert-history pattern — answers through the
            # ordinary read API. A metric-filtered query prunes the
            # whole leg at optimize time (the literal metric column
            # folds the filter to false → empty relation).
            from shards_prometheus_spark.operators.rules import (
                rule_file_alert_state_samples,
            )

            try:
                st = rule_file_alert_state_samples(
                    base, self._rule_file
                )
            except Exception:  # noqa: BLE001 - a bad rule file must
                st = None  # not break the read path (upstream: the
                # group goes unhealthy, queries keep serving)
            if st is not None:
                base = base.unionByName(
                    st, allowMissingColumns=True
                )
        return base

    # -- TSDB admin API (upstream --web.enable-admin-api) ---------------
    def delete_series(
        self,
        matches: "list[str]",
        start_us: "int | None" = None,
        end_us: "int | None" = None,
    ) -> None:
        """`/api/v1/admin/tsdb/delete_series`: record one tombstone
        per match[] selector; every subsequent read (query API,
        remote-read, snapshots) masks the matched samples in the
        optional [start, end] range. Raises ValueError (→ 400) on a
        non-instant selector, before any state changes."""
        from shards_prometheus_spark.functions.promql_parser import (
            Selector,
            parse,
        )

        parsed = []
        for m in matches:
            node = parse(m)
            if not isinstance(node, Selector) or node.range_us is not None:
                raise ValueError(f"invalid series selector {m!r}")
            parsed.append((node.metric, node.matchers))
        for metric, matchers in parsed:
            self._tombstones.append((metric, matchers, start_us, end_us))

    def clean_tombstones(self) -> None:
        """`/api/v1/admin/tsdb/clean_tombstones`: upstream compacts
        deleted blocks away; over an immutable parquet store the
        tombstone filters ARE the deletion (no blocks to rewrite), so
        this is a successful no-op — the masks stay in force."""

    def tsdb_snapshot(self, skip_head: bool = False) -> str:
        """`/api/v1/admin/tsdb/snapshot`: write the CURRENT masked
        samples relation (pushed state included, tombstones applied)
        as a parquet snapshot — a distributed write, named like
        upstream's `<utc-stamp>-<hex>` snapshot dirs. Returns the
        name; the directory lives under `snapshot_dir` (constructor)
        or `<tmp>/tsdb_snapshots`. `skip_head` is accepted for wire
        compatibility (no head/block distinction here)."""
        import os
        import secrets
        import time as _time

        name = (
            _time.strftime("%Y%m%dT%H%M%SZ", _time.gmtime())
            + "-"
            + secrets.token_hex(4)
        )
        root = self._snapshot_dir
        if root is None:
            import tempfile

            root = os.path.join(
                tempfile.gettempdir(), "tsdb_snapshots"
            )
        out = os.path.join(root, name)
        self.read_samples().write.parquet(
            os.path.join(out, "samples.parquet")
        )
        return name

    # -- lifecycle (upstream /-/healthy /-/ready /-/reload) -------------
    def _read_rule_files(self, patterns: "list[str]") -> str | None:
        """Read + merge the config's `rule_files:` entries (paths or
        globs, resolved against the config file's directory — the
        upstream convention) into ONE rules document: the groups
        concatenate in file order. Returns None when nothing
        resolves."""
        import glob as _glob
        import os

        import yaml

        base = (
            os.path.dirname(os.path.abspath(self._scrape_config_path))
            if self._scrape_config_path
            else "."
        )
        groups: list = []
        for pat in patterns:
            p = pat if os.path.isabs(pat) else os.path.join(base, pat)
            for path in sorted(_glob.glob(p)):
                with open(path) as f:
                    doc = yaml.safe_load(f.read()) or {}
                groups.extend(doc.get("groups") or [])
        return yaml.safe_dump({"groups": groups}) if groups else None

    def reload_config(self) -> None:
        """`POST /-/reload` (upstream --web.enable-lifecycle):
        re-read the prometheus.yml this exposer was constructed from
        and swap in the new scrape config, Alertmanager pool, and
        rule files — `/api/v1/status/config` serves the NEW document
        from the next request on. A parse failure raises (→ 500) and
        leaves the previous configuration in force, exactly
        upstream's failed-reload semantics. A no-path exposer (inline
        YAML text) re-derives pool + rules from the held text — a
        successful no-op."""
        from shards_prometheus_spark.sources.scrape_config import (
            load_scrape_configs,
            resolve_alertmanagers,
        )

        text = self._scrape_config
        if self._scrape_config_path is not None:
            with open(self._scrape_config_path) as f:
                text = f.read()
        if text is None:
            return
        import os as _os

        cfg = load_scrape_configs(  # raises → keep old config
            text,
            base_dir=(
                _os.path.dirname(
                    _os.path.abspath(self._scrape_config_path)
                )
                if self._scrape_config_path
                else None
            ),
        )
        new_rules = (
            self._rule_file
            if self._explicit_rule_file
            else (
                self._read_rule_files(cfg.rule_files)
                if cfg.rule_files
                else None
            )
        )
        self._scrape_config = text
        if not self._explicit_alertmanagers:
            from shards_prometheus_spark.sources.scrape_config import (
                resolve_alertmanagers_full,
            )

            resolved = resolve_alertmanagers_full(self._spark, cfg)
            self._alertmanagers = [u for u, _h in resolved]
            self._am_headers = {u: h for u, h in resolved if h}
            self._alert_relabel = cfg.alert_relabel_configs
            if hasattr(self, "_notifier"):
                # keep the notifier's firing-state memory across the
                # reload, swap the pool + auth in place (upstream's
                # reload keeps the notification queue)
                self._notifier.urls = [
                    u.rstrip("/") for u in self._alertmanagers
                ]
                self._notifier.headers_by_url = {
                    u.rstrip("/"): dict(h)
                    for u, h in self._am_headers.items()
                }
        if not self._explicit_external_labels:
            self._external_labels = dict(cfg.external_labels)
        self._keep_dropped_targets = cfg.keep_dropped_targets
        self._dropped_targets = _resolve_dropped_targets(
            self._spark, cfg
        )
        self._rule_file = new_rules

    def handle_api(
        self, path: str, params: dict, method: str = "GET"
    ) -> tuple:
        """Answer one read-API request (query_api.handle_api_request)
        over the current samples relation. `method` is the HTTP verb
        — state-mutating admin endpoints accept POST/PUT only."""
        from shards_prometheus_spark.functions.promql_parser import (
            PromQLEvaluator,
        )
        from shards_prometheus_spark.model import samples_multi
        from shards_prometheus_spark.sources.query_api import (
            handle_api_request,
        )

        def make_evaluator(eval_ts_us):
            if (
                self._tombstones
                or self._rule_file is not None
                or self._rw_samples_live()
            ):
                # read_samples is the ONE place that builds the
                # base ∪ pushed union (pushed state changes t_max
                # between requests), masks admin deletions (t_max
                # re-derived per request — a deletion can move it),
                # and unions the ALERTS/ALERTS_FOR_STATE synthetic
                # series a loaded rule file records (upstream stores
                # them in its TSDB; Grafana queries
                # ALERTS{alertstate="firing"} through this path)
                return PromQLEvaluator(
                    self.read_samples(), eval_ts_us=eval_ts_us
                )
            if self._samples_fn is not None:
                # live registry: the relation (and its t_max) grows
                # between requests — rebuild per request
                return PromQLEvaluator(
                    self._samples_fn(), eval_ts_us=eval_ts_us
                )
            if eval_ts_us is not None:
                # pinned time needs no t_max collect — cheap to build
                return PromQLEvaluator(
                    samples_multi(self._spark, self._sf_dir),
                    eval_ts_us=eval_ts_us,
                )
            # FRESH evaluator per request, t_max from the from_dir
            # memo (one corpus scan per (app, sf_dir), not per
            # request). A shared cached instance raced under the
            # ThreadingHTTPServer: plan construction mutates
            # _gridf/_gspan (the _subquery save/set/restore), so two
            # concurrent subquery-bearing requests could build plans
            # against each other's grids. from_dir also restores the
            # clear_caches() convention: rewrite a dir in place →
            # clear_caches releases the t_max memo, where the old
            # exposer-lifetime cache served a stale pin forever.
            return PromQLEvaluator.from_dir(self._spark, self._sf_dir)

        # batch-dir stores default to the exemplars parsed off the
        # OpenMetrics payload; a live registry serves exemplars only
        # if the caller provides a source (constructor `exemplars_fn`,
        # a zero-arg callable returning the openmetrics_exemplars
        # schema) — otherwise the endpoint answers the empty set
        exemplars_fn = self._exemplars_fn
        if exemplars_fn is None and self._samples_fn is None:
            exemplars_fn = lambda: openmetrics_exemplars(  # noqa: E731
                self._spark, self._sf_dir
            )
        # exemplars pushed over remote-write 2.0 serve alongside the
        # base relation (same schema, plan-level union)
        if (
            self._remote_write or self._otlp_receiver
        ) and self._rw.n_exemplars:
            base_ex_fn = exemplars_fn

            def exemplars_fn():  # noqa: F811 - deliberate wrap
                pushed = self._rw.exemplars(self._spark)
                if base_ex_fn is None:
                    return pushed
                return base_ex_fn().unionByName(pushed)

        return handle_api_request(
            make_evaluator,
            path,
            params,
            rule_file=self._rule_file,
            max_samples=self._max_samples,
            timeout_s=self._query_timeout_s,
            spark=self._spark,
            exemplars_fn=exemplars_fn,
            target_info={
                "instance": f"{self.host}:{self.port}",
                "start_time": getattr(self, "_start_time", None),
                "dropped_targets": self._dropped_targets,
                "keep_dropped_targets": self._keep_dropped_targets,
            },
            config_yaml=self._scrape_config,
            alertmanagers=self._alertmanagers,
            admin=self if self._admin_api else None,
            method=method,
            push_metadata=self._rw.metadata()
            if (self._remote_write or self._otlp_receiver)
            else None,
        )

    def push_alerts(self) -> "tuple[list[dict], dict[str, int]]":
        """The notification hop (sources/alertmanager.py): evaluate
        this exposer's rule file's firing set — the SAME pass
        `/api/v1/alerts` serves — and POST it to the configured
        Alertmanager pool. Returns (v2 payload, per-URL statuses);
        call after rule-relevant state changes (a push, a new scrape
        tick) — upstream's post-rule-group-evaluation hook."""
        from shards_prometheus_spark.functions.promql_parser import (
            PromQLEvaluator,
        )
        from shards_prometheus_spark.sources.alertmanager import (
            AlertmanagerNotifier,
            notify_firing,
        )

        if self._rule_file is None or not self._alertmanagers:
            return [], {}
        # ONE notifier per exposer: it remembers the previous push's
        # firing set, so the next push carries endsAt-stamped resolved
        # entries for alerts that stopped firing in between
        if not hasattr(self, "_notifier"):
            self._notifier = AlertmanagerNotifier(
                self._alertmanagers,
                headers_by_url=self._am_headers or None,
            )
        return notify_firing(
            PromQLEvaluator(self.read_samples()),
            self._rule_file,
            self._notifier,
            generator_url=f"http://{self.host}:{self.port}/graph",
            alert_relabel_configs=self._alert_relabel or None,
            external_labels=self._external_labels or None,
        )

    def collect_text(self) -> str:
        if self._openmetrics:
            df = (
                self._lines_fn()
                if self._lines_fn is not None
                else openmetrics_lines(self._spark, self._sf_dir)
            )
            return openmetrics_text(df)
        if self._lines_fn is not None:
            lines = self._lines_fn().collect()
        else:
            lines = exposition_lines(self._spark, self._sf_dir).collect()
        return "\n".join(sorted(r["line"] for r in lines)) + "\n"

    def collect_federate_text(self, matches: list[str]) -> str:
        """`/federate` payload over the batch dir: the classic-format
        dump pruned by the `match[]` selectors (federation always
        serves the classic dialect, as upstream). Collect-on-scrape,
        sorted like collect_text so the payload is deterministic.
        `global.external_labels` are merged into every sample line
        whose series lacks the label (upstream's federation
        semantics — the downstream server learns WHICH engine the
        series came from)."""
        lines = federate_lines(self._spark, self._sf_dir, matches).collect()
        rendered = inject_external_labels(
            [r["line"] for r in lines], self._external_labels
        )
        return "\n".join(sorted(rendered)) + "\n"

    def start(self) -> "MetricsExposer":
        import time as _time

        self._start_time = _time.time()
        self._thread.start()
        return self

    def start_rule_loop(
        self, interval_s: "float | None" = None
    ) -> None:
        """Upstream's rule-group evaluation loop: evaluate the rule
        file and push the firing set to the Alertmanager pool every
        `interval_s` (default: the loaded config's global
        `evaluation_interval`, else upstream's 1m). The notifier's
        resend_delay makes the loop quiet — a steady-firing alert
        posts once per delay window, not once per evaluation; an
        evaluation failure is logged by omission, never fatal
        (upstream marks the group unhealthy and keeps going).
        Idempotent; `stop()` ends the loop."""
        import threading

        if getattr(self, "_rule_loop_stop", None) is not None:
            return
        if interval_s is None:
            interval_s = 60.0
            if self._scrape_config is not None:
                try:
                    import yaml

                    from shards_prometheus_spark.functions.promql_parser import (  # noqa: E501
                        _dur_us,
                    )

                    g = (
                        yaml.safe_load(self._scrape_config) or {}
                    ).get("global") or {}
                    if g.get("evaluation_interval"):
                        interval_s = (
                            _dur_us(str(g["evaluation_interval"])) / 1e6
                        )
                except Exception:  # noqa: BLE001 - default stands
                    pass
        stop_event = threading.Event()
        self._rule_loop_stop = stop_event

        def loop() -> None:
            while not stop_event.wait(interval_s):
                try:
                    self.push_alerts()
                except Exception:  # noqa: BLE001 - keep evaluating
                    pass

        self._rule_loop_thread = threading.Thread(
            target=loop, daemon=True
        )
        self._rule_loop_thread.start()

    def stop(self) -> None:
        if getattr(self, "_rule_loop_stop", None) is not None:
            self._rule_loop_stop.set()
            self._rule_loop_stop = None
        self._server.shutdown()
        self._server.server_close()


_SNAP_SQL = (
    "SELECT 'counter' AS kind, metric, label_user, 'total' AS stat, "
    "ROUND(SUM(value), 4) AS value FROM samples WHERE value >= 0 "
    "GROUP BY metric, label_user "
    "UNION ALL "
    "SELECT 'gauge', metric, label_user, 'last', ROUND(value, 4) FROM ("
    "SELECT s.*, ROW_NUMBER() OVER (PARTITION BY metric, label_user "
    "ORDER BY ts_us DESC, event_id DESC) AS rn FROM samples s) WHERE rn = 1 "
    "UNION ALL "
    "SELECT 'histogram', metric, '', 'sum', ROUND(SUM(value), 4) "
    "FROM samples GROUP BY metric "
    "UNION ALL "
    "SELECT 'histogram', metric, '', 'count', CAST(COUNT(*) AS DOUBLE) "
    "FROM samples GROUP BY metric"
)

_DEC = "CAST(CAST({v} AS DECIMAL(28,4)) AS VARCHAR)"

QUERIES = {
    "exposition_lines": exposition_lines,
    "exposition_parse": exposition_parse,
    "exposition_lines_multi": exposition_lines_multi,
    "openmetrics_lines": openmetrics_lines,
    "openmetrics_parse": openmetrics_parse,
    "openmetrics_exemplars": openmetrics_exemplars,
    "openmetrics_created": openmetrics_created,
    "federate": federate_demo,
}

_LINES_PREFIX_SQL = f"{_BUCKET_COUNTS_SQL}, snap AS ({_SNAP_SQL}) "

_LINES_BODY_SQL = (
        "SELECT '# TYPE ' || metric || ' ' || kind AS line "
        "FROM (SELECT DISTINCT kind, metric FROM snap) "
        "UNION ALL "
        "SELECT metric || '_total{user=\"' || label_user || '\"} ' || "
        + _DEC.format(v="value")
        + " FROM snap WHERE kind = 'counter' "
        "UNION ALL "
        "SELECT metric || '{user=\"' || label_user || '\"} ' || "
        + _DEC.format(v="value")
        + " FROM snap WHERE kind = 'gauge' "
        "UNION ALL "
        "SELECT metric || '_' || stat || ' ' || "
        + _DEC.format(v="value")
        + " FROM snap WHERE kind = 'histogram' "
        "UNION ALL "
        "SELECT metric || '_bucket{le=\"' || ("
        + _le_label_sql()
        + ") || '\"} ' || CAST(CAST(SUM(bucket_count) OVER "
        "(PARTITION BY metric ORDER BY bucket_idx) AS BIGINT) AS VARCHAR) "
        # finite bounds only — the count-derived leg below is the sole
        # +Inf source (the WHERE removes only the HIGHEST bucket_idx,
        # so the running cumulative for finite buckets is unchanged)
        f"FROM g WHERE bucket_idx < {len(BOUNDS)} "
        "UNION ALL "
        "SELECT metric || '_bucket{le=\"+Inf\"} ' || "
        "CAST(CAST(value AS BIGINT) AS VARCHAR) "
        "FROM snap WHERE kind = 'histogram' AND stat = 'count'"
)

_LINES_SQL = _LINES_PREFIX_SQL + _LINES_BODY_SQL

_OM_UNIT_CASE = (
    "CASE kind "
    + " ".join(
        f"WHEN '{k}' THEN '{u}'" for k, u in _OM_UNITS.items()
    )
    + " END"
)

def _created_sql_legs() -> str:
    """The `_created` child-sample legs of the OM payload oracle —
    same first-contributing-sample semantics and 4dp pin as
    `_created_lines`."""
    from shards_prometheus_spark.model import dround

    cs = _DEC.format(v=dround("MIN(ts_us) / 1000000.0", 4))
    return (
        "SELECT metric || '_created{user=\"' || label_user || '\"} ' || "
        + cs
        + " FROM samples WHERE value >= 0 GROUP BY metric, label_user "
        "UNION ALL "
        "SELECT metric || '_created ' || "
        + cs
        + " FROM samples GROUP BY metric"
    )


_OM_LINES_SQL = (
    _LINES_PREFIX_SQL
    + f"SELECT '# HELP ' || metric || '{_OM_HELP}' AS line "
    "FROM (SELECT DISTINCT metric FROM snap) "
    "UNION ALL "
    f"SELECT '# UNIT ' || metric || ' ' || {_OM_UNIT_CASE} "
    "FROM (SELECT DISTINCT kind, metric FROM snap) "
    "UNION ALL "
    + _LINES_BODY_SQL
    + " UNION ALL "
    + _created_sql_legs()
    + " UNION ALL SELECT DISTINCT '# EOF' FROM snap"
)

#: the parse body over a prepared `lines` CTE — shared by the classic
#: and OpenMetrics parse oracles
_PARSE_BODY_SQL = (
    "hdr AS (SELECT DISTINCT "
    "regexp_extract(line, '^# TYPE (\\S+) (\\S+)$', 1) AS metric, "
    "regexp_extract(line, '^# TYPE (\\S+) (\\S+)$', 2) AS kind "
    "FROM lines WHERE starts_with(line, '# TYPE ')), "
    "par AS (SELECT "
    f"regexp_extract(line, '{_NAME_RE}', 1) AS raw, "
    "regexp_extract(line, '\\{(\\w+)=\"', 1) AS lkey, "
    "regexp_extract(line, '=\"([^\"]*)\"', 1) AS lval, "
    "CAST(regexp_extract(line, ' ([^ ]+)$', 1) AS DOUBLE) AS value "
    "FROM lines WHERE NOT starts_with(line, '#')), "
    "cls AS (SELECT "
    "CASE WHEN ends_with(raw, '_bucket') THEN substring(raw, 1, length(raw) - 7) "
    "WHEN ends_with(raw, '_total') THEN substring(raw, 1, length(raw) - 6) "
    "WHEN ends_with(raw, '_sum') THEN substring(raw, 1, length(raw) - 4) "
    "WHEN ends_with(raw, '_count') THEN substring(raw, 1, length(raw) - 6) "
    "ELSE raw END AS metric, "
    "CASE WHEN ends_with(raw, '_bucket') THEN 'bucket' "
    "WHEN ends_with(raw, '_total') THEN 'total' "
    "WHEN ends_with(raw, '_sum') THEN 'sum' "
    "WHEN ends_with(raw, '_count') THEN 'count' "
    "ELSE 'value' END AS stat, "
    "CASE WHEN lkey = 'user' THEN lval END AS label_user, "
    "CASE WHEN lkey = 'le' THEN lval END AS le, value FROM par) "
    "SELECT c.metric, h.kind, c.stat, c.label_user, c.le, c.value "
    "FROM (SELECT *, CASE WHEN stat = 'total' THEN 'counter' "
    "WHEN stat = 'value' THEN 'gauge' ELSE 'histogram' END AS kind "
    "FROM cls) c JOIN hdr h USING (metric, kind)"
)

# the oracle re-parses the text built by the exposition oracle — both
# engines run their full serialize → parse round trip independently
_PARSE_SQL = (
    f"WITH lines AS (SELECT line FROM ({_LINES_SQL}) t), "
    + _PARSE_BODY_SQL
)

# the per-series exemplar decoration (_with_exemplars' SQL twin):
# trace_id from the user label (counters) or le label (buckets),
# exemplar value/ts from the sample's rendered value token
_OM_DECOR_CASE = (
    "CASE WHEN "
    "regexp_matches(line, '^[A-Za-z_:][A-Za-z0-9_:]*_total\\{') "
    "THEN line || ' # {trace_id=\"t-' "
    "|| regexp_extract(line, '\\{user=\"([^\"]*)\"\\}', 1) || '\"} ' "
    "|| regexp_extract(line, ' ([^ ]+)$', 1) || ' ' "
    "|| regexp_extract(line, ' ([^ ]+)$', 1) "
    "WHEN "
    "regexp_matches(line, '^[A-Za-z_:][A-Za-z0-9_:]*_bucket\\{') "
    "THEN line || ' # {trace_id=\"b-' "
    "|| regexp_extract(line, '\\{le=\"([^\"]*)\"\\}', 1) || '\"} ' "
    "|| regexp_extract(line, ' ([^ ]+)$', 1) || ' ' "
    "|| regexp_extract(line, ' ([^ ]+)$', 1) "
    "ELSE line END"
)

# OpenMetrics round trip: decorate counter lines with an exemplar
# suffix, strip it back out, then run the shared parse body — both
# engines execute the identical decoration + strip
_OM_PARSE_SQL = (
    f"WITH lines0 AS (SELECT line FROM ({_OM_LINES_SQL}) t), "
    f"lines AS (SELECT regexp_replace({_OM_DECOR_CASE}, "
    "' # \\{.*$', '') AS line FROM lines0), "
    + _PARSE_BODY_SQL
)

# exemplar side relation: the same decorated payload, keeping (not
# stripping) the suffixes and extracting both exemplar grammars'
# groups (counter samples, histogram bucket samples)
_EX_RE_SQL = (
    '^([A-Za-z_:][A-Za-z0-9_:]*)_total\\{user="([^"]*)"\\} '
    '[^ ]+ # \\{trace_id="([^"]*)"\\} ([^ ]+) ([^ ]+)$'
)
_EX_BUCKET_RE_SQL = (
    '^([A-Za-z_:][A-Za-z0-9_:]*_bucket)\\{le="([^"]*)"\\} '
    '[^ ]+ # \\{trace_id="([^"]*)"\\} ([^ ]+) ([^ ]+)$'
)

_OM_EXEMPLARS_SQL = (
    f"WITH lines0 AS (SELECT line FROM ({_OM_LINES_SQL}) t), "
    f"lines AS (SELECT {_OM_DECOR_CASE} AS line FROM lines0) "
    f"SELECT regexp_extract(line, '{_EX_RE_SQL}', 1) AS metric, "
    f"regexp_extract(line, '{_EX_RE_SQL}', 2) AS label_user, "
    "CAST(NULL AS VARCHAR) AS le, "
    f"regexp_extract(line, '{_EX_RE_SQL}', 3) AS trace_id, "
    f"CAST(regexp_extract(line, '{_EX_RE_SQL}', 4) AS DOUBLE) AS ex_value, "
    f"CAST(regexp_extract(line, '{_EX_RE_SQL}', 5) AS DOUBLE) AS ex_ts "
    f"FROM lines WHERE regexp_matches(line, '{_EX_RE_SQL}') "
    "UNION ALL "
    f"SELECT regexp_extract(line, '{_EX_BUCKET_RE_SQL}', 1) AS metric, "
    "CAST(NULL AS VARCHAR) AS label_user, "
    f"regexp_extract(line, '{_EX_BUCKET_RE_SQL}', 2) AS le, "
    f"regexp_extract(line, '{_EX_BUCKET_RE_SQL}', 3) AS trace_id, "
    f"CAST(regexp_extract(line, '{_EX_BUCKET_RE_SQL}', 4) AS DOUBLE) "
    "AS ex_value, "
    f"CAST(regexp_extract(line, '{_EX_BUCKET_RE_SQL}', 5) AS DOUBLE) "
    "AS ex_ts "
    f"FROM lines WHERE regexp_matches(line, '{_EX_BUCKET_RE_SQL}')"
)

from shards_prometheus_spark.model import SAMPLES_MULTI_CTE  # noqa: E402

_LINES_MULTI_SQL = (
    f"{SAMPLES_MULTI_CTE} "
    "SELECT metric || '_total{shard=\"' || l_shard "
    "|| '\",user=\"' || l_user || '\"} ' || "
    + _DEC.format(v="SUM(value)")
    + " AS line FROM samples_multi WHERE value >= 0 "
    "GROUP BY metric, l_user, l_shard"
)

# federation oracle: the same lines body over the snapshot filtered
# by FEDERATE_MATCHES — counter/gauge legs keep click series whose
# user label matches the anchored regex plus every view series;
# histogram legs keep only view (the click selector's matchers reject
# the empty label set bucket series carry)
_FED_PRED = (
    "((metric = 'click' AND "
    "regexp_matches(label_user, '^(?:[0-3].*)$')) OR metric = 'view')"
)

_FEDERATE_SQL = (
    _LINES_PREFIX_SQL
    + f", fsnap AS (SELECT * FROM snap WHERE {_FED_PRED}) "
    + _LINES_BODY_SQL.replace("FROM snap", "FROM fsnap").replace(
        "FROM g WHERE bucket_idx",
        "FROM g WHERE metric = 'view' AND bucket_idx",
    )
)

def _om_created_sql() -> str:
    from shards_prometheus_spark.model import SAMPLES_CTE, dround

    cs = dround("MIN(ts_us) / 1000000.0", 4)
    return (
        f"{SAMPLES_CTE} "
        "SELECT metric, 'counter' AS kind, label_user, "
        + cs
        + " AS created_s FROM samples WHERE value >= 0 "
        "GROUP BY metric, label_user "
        "UNION ALL "
        "SELECT metric, 'histogram', CAST(NULL AS VARCHAR), "
        + cs
        + " FROM samples GROUP BY metric"
    )


_OM_CREATED_SQL = _om_created_sql()

ORACLES = {
    "exposition_lines": _LINES_SQL,
    "exposition_parse": _PARSE_SQL,
    "exposition_lines_multi": _LINES_MULTI_SQL,
    "openmetrics_lines": _OM_LINES_SQL,
    "openmetrics_parse": _OM_PARSE_SQL,
    "openmetrics_exemplars": _OM_EXEMPLARS_SQL,
    "openmetrics_created": _OM_CREATED_SQL,
    "federate": _FEDERATE_SQL,
}

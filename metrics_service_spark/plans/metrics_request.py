"""MetricsRequest JSON -> DataFrame plan translator.

This is the reference's public query surface (SURVEY.md P10, §3.1):
`process_request` dispatches on filterBy[0].filterType
(metricsreader.py:108-161), expands the target identifier set, runs the
COUNTER-filtered composite aggregation in ES, merges Postgres citation
counts, and pivots into parallel arrays with a zero-filled month spine
(metricsreader.py:1569-1816).

Here the identifier family is resolved on the driver with one bounded
collect into a pid list, which the rest of the lifecycle uses as ONE
lazy DataFrame program:
  driver-resolved IN-list (the reference's `terms {pid.key: [...]}`
  filter) -> COUNTER filter -> exact counts per (date_trunc, dims)
  from a two-level aggregate -> full-outer merge with the citations
  aggregate -> date-spine zero-fill.
The reference's process boundaries (HTTP->Solr->ES->Postgres) are not
Spark stages here.  Under adaptive execution every shuffle stage is a
job of its own, so a request whose inputs Spark already knows to be
small (`ONE_PARTITION_BYTES`) moves its scoped events into one
partition with one shuffle and runs the rest without an exchange:
three jobs with the family collect.  Larger inputs, and inputs of
unknown size, run the same program distributed.

Known deviations from the reference, implemented intentionally
(SURVEY.md §7.4 "reference bugs to not replicate silently"):
- `getMetricsPerRepository`'s tuple-append bug (metricsreader.py:746-751)
  -> intended semantics (a real nodeId equality filter).
- `formatDataPerUser` stale month_index bug (metricsreader.py:1060-1068)
  -> correct outer merge for citation-only months.
- "unique" counts are exact distinct eventId counts, not the ES
  `cardinality` HLL approximation.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metrics_service_spark.operators.driver import _bounded_arrow, _fits_bytes

EXCLUDED_TAGS = (
    "ignore_ip",
    "machine_ua",
    "robot_ua",
    "dataone_ip",
    "robot_ip",
    "d1_admin_subject",
)

AGG_FORMATS = {"month": "yyyy-MM", "day": "yyyy-MM-dd", "year": "yyyy"}
CITATION_KEY_LEN = {"month": 7, "day": 10, "year": 4}

# Identifier rows one request's filter may match; past it family_map
# raises instead of collecting an unbounded family to the driver.
FAMILY_ROWS = 100_000

# Spark's size estimate, in bytes, up to which a request's events and
# citations are each planned in one partition (SCALE.md crossover).
# Keep it under spark.sql.maxSinglePartitionBytes (128 MB): past that
# Spark shuffles one-partition join sides apart again.
ONE_PARTITION_BYTES = 32 * 1024 * 1024


@dataclass
class MetricsTables:
    """Input tables in the FIXTURES.md schemas."""

    events: DataFrame
    identifiers: DataFrame
    citations: DataFrame


def _parse_request_date(s: str) -> datetime:
    return datetime.strptime(s, "%m/%d/%Y")  # metricsreader.py:278-298


def _cites_pid(pid: Column, target_id: Column) -> Column:
    """gatherCitations' match: the lowercased target_id is a substring
    of the lowercased pid, Dryad '?'-suffix stripped from the pid
    (metricsreader.py:423-468)."""
    return F.instr(F.lower(F.substring_index(pid, "?", 1)), F.lower(target_id)) > 0


def _one_partition(events: DataFrame, citations: DataFrame) -> bool:
    """Whether a request plans in one partition (see `plan`): both
    size estimates are within ONE_PARTITION_BYTES."""
    return _fits_bytes(events, ONE_PARTITION_BYTES) and _fits_bytes(
        citations, ONE_PARTITION_BYTES
    )


def _format_counts(groups: DataFrame, keys: list[str]) -> DataFrame:
    """Per `keys`: downloads and views (DATA and METADATA event totals)
    and their unique eventId counts, from `groups`, the events counted
    per (keys…, formatType, eventId).  A NULL eventId group counts
    toward the totals and not the uniques, as countDistinct skips
    NULLs.  Two plain aggregates instead of two countDistincts: the
    distinct rewrite's Expand reports no partitioning, so it needs an
    exchange even over one partition."""
    is_data = F.col("formatType") == "DATA"
    is_meta = F.col("formatType") == "METADATA"
    return groups.groupBy(*keys).agg(
        F.sum(F.when(is_data, F.col("count"))).alias("downloads"),
        F.sum(F.when(is_meta, F.col("count"))).alias("views"),
        F.count(F.when(is_data, F.col("eventId"))).alias("unique_downloads"),
        F.count(F.when(is_meta, F.col("eventId"))).alias("unique_views"),
    )


def run_metrics_request(
    spark: SparkSession,
    request: dict,
    tables: MetricsTables,
) -> DataFrame:
    """The engine's public query API (SURVEY.md S9): MetricsRequest JSON
    in, result DataFrame out.  The REST layer stays external and calls
    this; `MetricsRequestPlanner.response` renders the reference's
    parallel-array JSON shape."""
    return MetricsRequestPlanner(spark, tables).plan(request)


class MetricsRequestPlanner:
    def __init__(self, spark: SparkSession, tables: MetricsTables):
        self.spark = spark
        self.t = tables

    # -- identifier expansion (process boundary #1 in the reference) ------
    def family_map(self, filter_type: str, values: list[str]) -> dict[str, list[str]]:
        """Expand each requested id into its family: seed -> the sorted,
        de-duplicated, NULL-free pids of every identifier row the seed
        matches (reference: getResolvePIDs keyed by the requested pid,
        pid_resolution.py:285-416; catalogPIDs dict in
        metricsreader.py:480-508; identifiers-2 lookups,
        metricsreader.py:1259-1343).  Resolved with ONE bounded driver
        collect of the matched identifier rows — the reference likewise
        resolves the family in the client and ships it to ES as a `terms`
        list.  Raises ValueError past FAMILY_ROWS matched rows."""
        ids = self.t.identifiers
        vals = F.array(*[F.lit(v) for v in values])
        if filter_type in ("dataset", "catalog", "package"):
            matched = ids.filter(
                F.col("PID").isin(values)
                | F.col("SID").isin(values)
                | F.arrays_overlap("datasetIdentifierFamily", vals)
            )

            def hit(row, v):
                return v in (row["PID"], row["SID"]) or v in (
                    row["datasetIdentifierFamily"] or ()
                )

        elif filter_type in ("user", "group"):
            # user/group queries require public datasets
            # (metricsreader.py:1305-1323)
            matched = ids.filter(F.arrays_overlap("userID", vals) & F.col("isPublic"))

            def hit(row, v):
                return v in (row["userID"] or ())

        else:
            raise ValueError(f"family_map does not apply to {filter_type!r}")
        tbl = _bounded_arrow(
            matched.select("PID", "SID", "userID", "datasetIdentifierFamily"),
            FAMILY_ROWS,
        )
        if tbl is None:
            raise ValueError(
                f"{filter_type} filter {values!r} matches more than "
                f"{FAMILY_ROWS} identifier rows; the family is a literal "
                "IN-list in the request plan and must stay request-sized"
            )
        rows = tbl.to_pylist()
        fams = {}
        for v in values:
            members = set()
            for r in rows:
                if hit(r, v):
                    members.add(r["PID"])
                    members.update(r["datasetIdentifierFamily"] or ())
            members.discard(None)
            fams[v] = sorted(members)
        return fams

    def family_pids(self, filter_type: str, values: list[str]) -> list[str]:
        """The request's whole target family: the sorted union of
        `family_map`'s per-seed families."""
        fams = self.family_map(filter_type, values).values()
        return sorted(set().union(*fams))

    # -- event-side filtering --------------------------------------------
    def counter_filtered_events(self) -> DataFrame:
        """The robot/machine exclusion + read/format/session predicates
        applied to every aggregation (metricselasticsearch.py:232-265)."""
        ev = self.t.events
        return ev.filter(
            (F.col("event") == "read")
            & F.col("formatType").isin("METADATA", "DATA")
            & F.col("sessionId").isNotNull()
            & (F.col("sessionId") != -1)
            & (
                F.col("tags").isNull()
                | ~F.arrays_overlap(
                    "tags", F.array(*[F.lit(t) for t in EXCLUDED_TAGS])
                )
            )
        )

    def scoped_events(self, request: dict) -> tuple[DataFrame, list[str] | None, dict]:
        """Apply the filterBy clauses: target scope (dataset/repository/
        user/group/portal), plus the date-range filter.  Returns
        (events, family_or_None, meta); the family is the driver-resolved
        pid list of the last identifier scope."""
        filters = request.get("filterBy", [])
        ev = self.counter_filtered_events()
        family = None
        meta: dict = {"filterType": None, "start": None, "end": None}
        for f in filters:
            ftype, values = f["filterType"], list(f["values"])
            interp = f.get("interpretAs", "list").lower()
            if ftype in ("month", "day", "year"):
                if interp != "range":
                    # the reference only applies date filters flagged
                    # interpretAs=range (metricsreader.py:282,707,920);
                    # others are silently ignored
                    continue
                start, end = (_parse_request_date(v) for v in values)
                meta["start"], meta["end"] = start, end
                # reference bounds: strict gt on the start instant, lte
                # on the end instant (metricselasticsearch.py:259-264)
                ev = ev.filter(
                    (F.col("dateLogged") > F.lit(start.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
                    & (F.col("dateLogged") <= F.lit(end.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
                )
            elif ftype not in (
                "dataset",
                "catalog",
                "package",
                "user",
                "group",
                "repository",
                "portal",
            ):
                # validate the filterType FIRST so a typo'd type raises
                # regardless of interpretAs, instead of silently
                # yielding an all-zero response through the
                # unknown-interpretAs branch below
                raise ValueError(f"unsupported filterType {ftype!r}")
            elif interp != "list":
                # the reference dispatcher handles scope filters only for
                # interpretAs == "list" (metricsreader.py:126-156); any
                # other value — including the API-documented "full_text"
                # — falls through every branch and yields an empty
                # result.  Mirror that: the scope matches nothing.
                meta["filterType"] = ftype
                ev = ev.filter(F.lit(False))
            elif ftype in ("dataset", "catalog", "package", "user", "group"):
                meta["filterType"] = ftype
                family = self.family_pids(ftype, values)
                ev = ev.filter(F.col("pid").isin(family))
            elif ftype == "repository":
                meta["filterType"] = ftype
                ev = ev.filter(F.col("nodeId").isin(values))
            elif ftype == "portal":
                meta["filterType"] = ftype
                ev = ev.filter(
                    F.arrays_overlap(
                        "portalIdentifier", F.array(*[F.lit(v) for v in values])
                    )
                )
        return ev, family, meta

    # -- citations (process boundary #3 in the reference) -----------------
    def citations_for_family(
        self, family: list[str] | None, *, one_partition: bool = False
    ) -> DataFrame:
        """gatherCitations (metricsreader.py:423-468): target_id matched
        as lowercase substring of a family pid, Dryad '?'-suffix
        stripped from the pid before comparison.  The family is a
        literal array, so the match is a per-row `exists` with no join;
        each citation counted once (reference breaks after first
        matching pid).  `one_partition` coalesces the citations into
        one partition first (see `plan`)."""
        cites = self.t.citations.coalesce(1) if one_partition else self.t.citations
        if family is None:
            return cites
        matched = cites.filter(
            F.exists(F.lit(family), lambda p: _cites_pid(p, F.col("target_id")))
        )
        return matched.dropDuplicates(["target_id", "source_id"])

    # -- the aggregation + merge ------------------------------------------
    def plan(self, request: dict) -> DataFrame:
        """Build the full result DataFrame: one row per spine bucket
        (x country when grouped), with total/unique downloads & views
        and citation counts, zero-filled.

        When Spark's size estimates of the scoped events and of the
        citations are both within `ONE_PARTITION_BYTES`, the events
        enter one partition through one shuffle after the scope
        filters (the scan keeps its tasks; a narrow coalesce would open
        every file in one task) and the citations through a narrow
        coalesce, which adds no job.  One partition satisfies every aggregate's,
        the dedup's and the joins' distribution, so the rest of the
        plan adds no exchange.  Past the bound, or for an input of
        unknown size, the same code runs distributed."""
        group_by = list(request.get("groupBy", ["month"]))
        agg_type = next(
            (g for g in group_by if g in AGG_FORMATS), "month"
        )  # aggType selection metricsreader.py:711-721
        by_country = "country" in group_by
        fmt = AGG_FORMATS[agg_type]

        ev, family, meta = self.scoped_events(request)
        one = _one_partition(ev, self.t.citations)
        if one:
            ev = ev.repartition(1)
        dims = ["bucket"] + (["country"] if by_country else [])
        dim_cols = [F.date_format("dateLogged", fmt).alias("bucket")] + (
            [F.col("geoip.country_code2").alias("country")] if by_country else []
        )
        agg = _format_counts(
            ev.groupBy(*dim_cols, "formatType", "eventId").count(), dims
        )

        cites = self.citations_for_family(family, one_partition=one)
        key_len = CITATION_KEY_LEN[agg_type]
        cite_agg = (
            cites.filter(F.col("link_publication_date").isNotNull())
            .groupBy(
                F.substring("link_publication_date", 1, key_len).alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias("citations"))
        )

        merged = agg.join(cite_agg, "bucket", "full_outer")
        fills = ["downloads", "views", "unique_downloads", "unique_views", "citations"]

        buckets = self._spine(meta, agg_type)
        if buckets is not None:
            if one:
                # a full outer join reports no partitioning, though over
                # one partition its output is one partition: say so, or
                # the spine step shuffles
                merged = merged.coalesce(1)
            if by_country:
                merged = self._country_spine(merged, buckets, fills)
            else:
                spine = self.spark.range(1, numPartitions=1).select(
                    F.explode(buckets).alias("bucket")
                )
                merged = spine.alias("s").join(
                    merged.alias("m"),
                    F.col("s.bucket").eqNullSafe(F.col("m.bucket")),
                    "full_outer",
                ).select(
                    F.coalesce("s.bucket", "m.bucket").alias("bucket"),
                    *[F.col(f"m.{c}") for c in fills],
                )

        # the reply is bounded by the request (spine buckets x countries)
        # and every input here is already aggregated per bucket, so one
        # partition sorts it: no range-partition sampling job or shuffle
        return (
            merged.select(
                *dims,
                *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in fills],
            )
            .coalesce(1)
            .sortWithinPartitions(*dims)
        )

    @staticmethod
    def _country_spine(merged: DataFrame, buckets: Column, fills: list[str]) -> DataFrame:
        """`merged` (one row per (bucket, country)) with a row for every
        spine bucket of every country the events aggregate holds, NULL
        included; a country only citations hold (NULL, from citation
        buckets no event shares) keeps just its own rows.  One group per
        country over `merged` itself, so the plan reads the aggregate
        once: a second reference for the country keys shuffled the
        events a second time."""
        from_events = F.col("unique_downloads").isNotNull()
        per_country = merged.groupBy("country").agg(
            F.collect_list(F.struct("bucket", *fills)).alias("__rows"),
            F.max(from_events).alias("__events"),
        )
        own = F.transform("__rows", lambda r: r["bucket"])
        rows = per_country.select(
            F.explode(
                F.when(F.col("__events"), F.array_union(buckets, own)).otherwise(own)
            ).alias("bucket"),
            "country",
            "__rows",
        )
        row = F.try_element_at(
            F.filter("__rows", lambda r: r["bucket"].eqNullSafe(F.col("bucket"))),
            F.lit(1),
        )
        return rows.select("bucket", "country", *[row[c].alias(c) for c in fills])

    def _spine(self, meta: dict, agg_type: str) -> Column | None:
        """The bucket spine over the requested range, as one array of
        distinct bucket keys.  The reference builds it with
        `range((end - start).days)` over day offsets and dedupes the
        formatted keys (metricsreader.py:1029-1033) — the END DAY IS
        EXCLUSIVE, so a range ending on the 1st of a month contributes
        no bucket for that month/day.  We generate days in [start, end)
        to match."""
        if meta["start"] is None:
            return None
        fmt = AGG_FORMATS[agg_type]
        start = F.lit(meta["start"].strftime("%Y-%m-%d")).cast("date")
        end = F.lit(meta["end"].strftime("%Y-%m-%d")).cast("date")
        days = F.sequence(start, end, F.expr("INTERVAL 1 DAY"))
        return F.array_distinct(
            F.transform(
                F.filter(days, lambda d: d < end),  # end-exclusive
                lambda d: F.date_format(d, fmt),
            )
        )

    # -- catalog / search page summary -------------------------------------
    def catalog_summary_response(self, request: dict) -> dict:
        """The browse/search-page branch (getSummaryMetricsPerCatalog +
        formatDataPerCatalog, metricsreader.py:470-640): one entry PER
        REQUESTED DATASET with its family's UNIQUE event counts —
        parallel arrays datasets/downloads/views/citations with country
        and months empty and resultDetails {}.

        Fidelity notes: downloads/views are cardinality-of-eventId (the
        ES `unique_doc_count`), not totals; the request's month filter
        is IGNORED — the reference hardcodes 01/01/2012..today for this
        branch (metricsreader.py:616-618); datasets follow request
        order (catalogPIDs dict insertion order); citations are
        gathered per family like gatherCitations."""
        first = request.get("filterBy", [{}])[0]
        values = list(first.get("values", []))
        rows = {
            r["seed"]: (r["downloads"], r["views"], r["citations"])
            for r in self.catalog_summary_frame(request).collect()
        }
        results = {
            "downloads": [rows.get(v, (0, 0, 0))[0] for v in values],
            "views": [rows.get(v, (0, 0, 0))[1] for v in values],
            "citations": [rows.get(v, (0, 0, 0))[2] for v in values],
            "datasets": list(values),
            "country": [],
            "months": [],
        }
        return {
            "metricsRequest": request,
            "results": results,
            "resultDetails": {},
        }

    def catalog_summary_frame(self, request: dict) -> DataFrame:
        """The per-dataset summary as ONE zero-filled DataFrame (seed,
        downloads, views, citations) — the oracle-checkable core of
        `catalog_summary_response` (getSummaryMetricsPerCatalog,
        metricsreader.py:470-640): per-seed family expansion, family
        UNIQUE event counts (the ES unique_doc_count cardinality), and
        per-family citation gathering; one row per requested id
        regardless of activity.  The families are resolved on the
        driver (`family_map`) and tag events and citations with their
        seeds through one literal array of (seed, pid) pairs."""
        first = request.get("filterBy", [{}])[0]
        values = list(first.get("values", []))
        fams = self.family_map(first.get("filterType", "catalog"), values)
        # every seed also maps to itself (the reference initializes
        # catalogPIDs[i] = [i])
        seed_pids = [
            (seed, pid)
            for seed, members in fams.items()
            for pid in sorted({*members, seed})
        ]
        pairs = F.array(
            *[F.struct(F.lit(s).alias("seed"), F.lit(p).alias("pid")) for s, p in seed_pids]
        ).cast("array<struct<seed:string,pid:string>>")

        def seeds_where(match) -> Column:
            return F.explode(
                F.transform(F.filter(pairs, match), lambda m: m["seed"])
            ).alias("seed")

        ev = self.counter_filtered_events().filter(
            F.col("pid").isin(sorted({p for _, p in seed_pids}))
        )
        one = _one_partition(ev, self.t.citations)
        if one:
            ev = ev.repartition(1)
        counts = _format_counts(
            ev.select(
                seeds_where(lambda m: m["pid"] == F.col("pid")), "formatType", "eventId"
            )
            .groupBy("seed", "formatType", "eventId")
            .count(),
            ["seed"],
        )
        cites = (
            self.citations_for_family(None, one_partition=one)
            .select(
                seeds_where(lambda m: _cites_pid(m["pid"], F.col("target_id"))),
                "target_id",
                "source_id",
            )
            .dropDuplicates(["seed", "target_id", "source_id"])
            .groupBy("seed")
            .agg(F.count(F.lit(1)).alias("citations"))
        )
        seeds = self.spark.range(1, numPartitions=1).select(
            F.explode(F.array(*[F.lit(v) for v in values]).cast("array<string>")).alias("seed")
        )
        if one:
            # one partition on every side: merge joins need no exchange,
            # where a broadcast of either aggregate costs a job
            counts, cites = counts.hint("merge"), cites.hint("merge")
        return (
            seeds.join(counts, "seed", "left")
            .join(cites, "seed", "left")
            .select(
                "seed",
                F.coalesce("unique_downloads", F.lit(0)).cast("long").alias("downloads"),
                F.coalesce("unique_views", F.lit(0)).cast("long").alias("views"),
                F.coalesce("citations", F.lit(0)).cast("long").alias("citations"),
            )
        )

    # -- reference-shaped response ----------------------------------------
    def response(self, request: dict) -> dict:
        """Collect plan() into the reference's parallel-array response
        (metricsreader.py:1569-1816): results + resultDetails totals.
        Catalog/package list requests with >1 values dispatch to the
        per-dataset summary branch, mirroring process_request
        (metricsreader.py:131-137)."""
        first = request.get("filterBy", [{}])[0] if request.get("filterBy") else {}
        if (
            first.get("filterType", "").lower() in ("catalog", "package")
            and first.get("interpretAs", "list").lower() == "list"
            and len(first.get("values", [])) > 1
        ):
            return self.catalog_summary_response(request)
        metrics = list(request.get("metrics", ["citations", "downloads", "views"]))
        df = self.plan(request)
        rows = df.collect()
        group_by = list(request.get("groupBy", ["month"]))
        agg_type = next((g for g in group_by if g in AGG_FORMATS), "month")
        by_country = "country" in group_by
        results: dict = {"months" if agg_type == "month" else agg_type + "s": [
            r["bucket"] for r in rows
        ]}
        if by_country:
            results["country"] = [r["country"] for r in rows]
        for m in ("downloads", "views", "citations"):
            if m in metrics:
                results[m] = [r[m] for r in rows]
        for m in ("downloads", "views"):
            if m in metrics:
                results[f"unique_{m}"] = [r[f"unique_{m}"] for r in rows]
        details = {
            "totalDownloads": sum(r["downloads"] for r in rows),
            "totalViews": sum(r["views"] for r in rows),
            "totalCitations": sum(r["citations"] for r in rows),
        }
        return {
            "metricsRequest": request,
            "results": results,
            "resultDetails": details,
        }


def package_counts(
    events: DataFrame,
    obsoletes: DataFrame,
    *,
    pid_col: str = "pid",
    child_col: str = "pid",
    parent_col: str = "obsoletes",
    max_depth: int = 20,
    hop: int = 4,
) -> DataFrame:
    """Catalog-page resultDetails: per visible PID, unique view/download
    counts accumulated over its obsolescence ancestry
    (parsePackageCounts, metricsreader.py:633-670: walk the obsoletes
    dictionary and add the obsoleted versions' counts to the current
    version).

    `obsoletes` carries (child, parent) rows — parent is the version the
    child obsoletes.  Counts for a pid = its own + all transitive
    ancestors'.  Implements the intended accumulate-both semantics; the
    reference overwrites downloadCount instead of adding while walking
    (stale-assignment bug, SURVEY.md §7.4) — documented deviation.

    One aggregation + one bounded closure + one join: the ancestry pairs
    come from expand_family over the directed parent edges (depth-capped
    like the reference's max_depth=20 walk).

    `hop` composes the parent-pointer relation with itself up front so
    the driver loop runs ceil(max_depth / hop) rounds instead of
    max_depth (r17, guide §2.6-analogue: each BFS round is fixed
    job-launch latency).  Obsolescence edges are parent POINTERS — out-
    degree <= 1 per child by the reference's obsoletes semantics — so
    the composed <=hop-hop set stays linear in the node count (<= hop
    edges per node), never the hub blow-up the generic expand_family
    docstring warns about.  Measured at sf0.1: hop=1 4.83s / hop=2
    3.96s / hop=4 3.56s warm (28.98/7.79/4.53 cold), identical output.
    """
    from metrics_service_spark.operators.closure import expand_family

    counts = events.groupBy(F.col(pid_col).alias("__pid")).agg(
        F.countDistinct(
            F.when(F.col("formatType") == "METADATA", F.col("eventId"))
        ).alias("__views"),
        F.countDistinct(
            F.when(F.col("formatType") == "DATA", F.col("eventId"))
        ).alias("__downloads"),
    )
    edges = obsoletes.select(
        F.col(child_col).alias("src"), F.col(parent_col).alias("dst")
    ).filter(F.col("dst").isNotNull())
    seeds = events.select(F.col(pid_col).alias("pid")).distinct()
    ancestry = expand_family(
        seeds, edges, seed_col="pid", max_iters=max_depth, hop=hop
    )
    return (
        ancestry.join(counts, ancestry.member == counts.__pid, "left")
        .groupBy(F.col("seed").alias("pid"))
        .agg(
            F.sum(F.coalesce("__views", F.lit(0))).cast("long").alias("view_count"),
            F.sum(F.coalesce("__downloads", F.lit(0)))
            .cast("long")
            .alias("download_count"),
        )
    )

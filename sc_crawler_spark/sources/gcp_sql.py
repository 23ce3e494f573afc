"""GCP Cloud SQL (PostgreSQL) database inventories (reference
_gcp.py:1122-1607): database catalog, per-region prices composed from
vCPU/RAM SKU rates, storage catalog and storage prices.

Bronze contract (one JSON line per item, like every other vendor tree):

- ``cloudsql_skus.json`` — raw billing-catalog SKUs for the Cloud SQL
  service: {description, service_regions, units, nanos, currency,
  usage_unit}
- ``sql_tiers.json``     — sqladmin tier list: {tier, ram (bytes),
  regions}
- ``sql_metadata.json``  — one row: {engine_versions, custom_config,
  custom_extensions}

All description parsing (the reference's regex walk over SKU text,
_gcp.py:1189-1292) happens HERE as native column expressions, so the
bronze layer stays raw API shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RAW_CLOUDSQL_SKU = (
    "description string, service_regions array<string>, units long, "
    "nanos long, currency string, usage_unit string"
)
RAW_SQL_TIER = "tier string, ram long, regions array<string>"
RAW_SQL_METADATA = (
    "engine_versions array<string>, custom_config boolean, "
    "custom_extensions boolean"
)

# _gcp.py:1126-1129
_SHARED_TIERS = {"db-f1-micro": "f1-micro", "db-g1-small": "g1-small"}
_N4_MARKERS = ("c4a", "perf-optimized", "memory-optimized")

# _gcp.py:1202-1211
TIER_FAMILY_LABELS = {
    "f1-micro": "Shared f1-micro",
    "g1-small": "Shared g1-small",
    "n1-standard": "N1 Standard",
    "n1-highmem": "N1 High Memory",
    "perf-optimized-N": "Performance Optimized N",
    "c4a-highmem": "C4A High Memory",
    "memory-optimized-N": "Memory Optimized N",
    "custom": "Custom",
}

# _gcp.py:1130-1188 — storage meter fragments + published specs
_STORAGE_METERS = [
    (": Zonal - Enterprise Storage Hyperdisk Balanced Capacity in ",
     "cloudsql-hyperdisk"),
    (": Zonal - Enterprise Plus Standard Storage in ", "cloudsql-ssd"),
    (": Zonal - Standard storage in ", "cloudsql-ssd-standard"),
    (": Zonal - Low cost storage in ", "cloudsql-hdd"),
]
STORAGE_SPECS: dict[str, dict] = {
    "cloudsql-ssd": {
        "name": "Enterprise Plus SSD",
        "description": ("Enterprise Plus standard SSD (Persistent Disk) for "
                        "N2 / Enterprise Plus machine series; 10-65536 GB, "
                        "up to 100k IOPS"),
        "min_size": 10, "max_size": 65536,
        "max_iops": 100_000, "max_throughput": 1200,
    },
    "cloudsql-ssd-standard": {
        "name": "Enterprise SSD",
        "description": ("Standard SSD storage for Enterprise edition (N1, "
                        "custom, shared-core); 10-65536 GB, up to 100k IOPS"),
        "min_size": 10, "max_size": 65536,
        "max_iops": 100_000, "max_throughput": 1200,
    },
    "cloudsql-hdd": {
        "name": "Low-cost HDD",
        "description": ("Low cost HDD for general-purpose shared or dedicated "
                        "core series; 10-65536 GB, up to 15k IOPS"),
        "min_size": 10, "max_size": 65536,
        "max_iops": 15_000, "max_throughput": 1200,
    },
    "cloudsql-hyperdisk": {
        "name": "Hyperdisk Balanced",
        "description": ("Hyperdisk Balanced capacity for N4 and C4A machine "
                        "series; 20-65536 GB, up to 160k IOPS"),
        "min_size": 20, "max_size": 65536,
        "max_iops": 160_000, "max_throughput": 2400,
    },
}


def _storage_id(desc) -> "F.Column":
    """_pg_storage_id (_gcp.py:1224-1236): Zonal PostgreSQL capacity
    meters only, first matching fragment wins."""
    excluded = (
        (~desc.contains("for Postgre"))
        | desc.contains("FDC Trial")
        | desc.contains(": Regional -")
        | (~desc.contains(": Zonal -") & ~desc.contains(": Zonal-"))
        | desc.contains("IOPS") | desc.contains("Throughput")
        | desc.contains("Cache")
    )
    match = F.coalesce(*[
        F.when(desc.contains(frag), F.lit(sid))
        for frag, sid in _STORAGE_METERS
    ])
    return F.when(~excluded, match)


def _hourly(units, nanos) -> "F.Column":
    return units + nanos / F.lit(1e9)


def sql_compute_index(skus: DataFrame) -> DataFrame:
    """(region, price_family, component, hourly, currency) — the parsed
    compute-rate index (_pg_billing_catalog, _gcp.py:1239-1290).
    Keep-FIRST per key in bronze arrival order, like the reference's
    ``setdefault``; Extended-support enterprise rows index under
    'enterprise_extended' so the plain family never picks them up."""
    desc = F.col("description")
    shared_comp = F.regexp_extract(
        desc, r": Zonal - (?:Extended support )?(f1-micro|g1-small)(?: v\d+)? in ", 1)
    is_vcpu = desc.rlike(r": Zonal - (?:Extended support )?(?:Enterprise N4 )?vCPU in ")
    is_ram = desc.rlike(r": Zonal - (?:Extended support )?(?:Enterprise N4 )?RAM in ")
    extended = desc.contains("Extended support")
    n4 = desc.contains("Enterprise N4")
    base_family = F.when(n4, F.lit("enterprise_n4")).otherwise(F.lit("enterprise"))
    family = F.when(shared_comp != "", F.lit("shared")).otherwise(
        F.when(extended & ~n4, F.lit("enterprise_extended"))
        .when(extended & n4, F.lit(None))        # n4 extended: skipped
        .otherwise(base_family)
    )
    component = F.when(shared_comp != "", shared_comp).when(
        is_vcpu, F.lit("vcpu")).when(is_ram, F.lit("ram"))
    rows = (
        skus.withColumn("_pos", F.monotonically_increasing_id())
        .filter(desc.contains("for Postgre")
                & (desc.contains(": Zonal -") | desc.contains(": Zonal-")))
        .withColumn("price_family", family)
        .withColumn("component", component)
        .filter(F.col("price_family").isNotNull()
                & F.col("component").isNotNull())
        .select("price_family", "component", "_pos",
                _hourly(F.col("units"), F.col("nanos")).alias("hourly"),
                F.coalesce(F.col("currency"), F.lit("USD")).alias("currency"),
                F.explode("service_regions").alias("region"))
        .filter(F.col("region") != "")
    )
    w = Window.partitionBy("region", "price_family", "component").orderBy("_pos")
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pos")
    )


def sql_ha_families(skus: DataFrame) -> DataFrame:
    """(region, price_family) pairs offering Regional (HA) vCPUs
    (_gcp.py:1248-1256)."""
    desc = F.col("description")
    return (
        skus.filter(desc.contains("for Postgre")
                    & desc.contains(": Regional -") & desc.contains("vCPU"))
        .select(
            F.when(desc.contains("Enterprise N4"), F.lit("enterprise_n4"))
            .otherwise(F.lit("enterprise")).alias("price_family"),
            F.explode("service_regions").alias("region"),
        )
        .filter(F.col("region") != "")
        .distinct()
    )


def _tier_parsed(tiers: DataFrame) -> DataFrame:
    """Shared tier parsing (_gcp.py:1300-1366): cpu count, memory MiB,
    family slug, price family."""
    t = F.col("tier")
    custom_cpu = F.regexp_extract(t, r"^db-custom-(\d+)-(\d+)$", 1)
    trail_cpu = F.regexp_extract(t, r"-(\d+)$", 1)
    cpu = F.when(custom_cpu != "", custom_cpu.cast("int")).when(
        trail_cpu != "", trail_cpu.cast("int"))
    mem_mib = F.when(F.col("ram") > 0,
                     (F.col("ram") / 1_048_576).cast("long"))
    stripped = F.regexp_replace(t, r"^db-", "")
    slug = F.when(t.startswith("db-custom-"), F.lit("custom")).otherwise(
        F.when(trail_cpu != "",
               F.regexp_replace(stripped, r"-(\d+)$", "")).otherwise(stripped)
    )
    shared = t.isin(*_SHARED_TIERS)
    n4 = F.lower(t).contains(_N4_MARKERS[0])
    for m in _N4_MARKERS[1:]:
        n4 = n4 | F.lower(t).contains(m)
    price_family = F.when(shared, F.lit("shared")).when(
        n4, F.lit("enterprise_n4")).otherwise(F.lit("enterprise"))
    return (
        tiers.filter(t.isNotNull() & (t != ""))
        .withColumn("_cpu", cpu)
        .withColumn("_mem_mib", mem_mib)
        .withColumn("_slug", slug)
        .withColumn("_price_family", price_family)
    )


def gcp_sql_databases(tiers: DataFrame, metadata: DataFrame,
                      skus: DataFrame, servers: DataFrame,
                      vendor_id: str = "gcp") -> DataFrame:
    """sqladmin tiers -> ``database`` rows (inventory_databases,
    _gcp.py:1293-1412): spec-labeled description, J7-style server match
    on the db-stripped tier name, HA folded from the Regional SKU
    families, engine metadata broadcast from the one-row dim."""
    parsed = _tier_parsed(tiers)
    label_map = F.create_map(*[
        F.lit(x) for kv in TIER_FAMILY_LABELS.items() for x in kv
    ])
    label = F.coalesce(
        label_map[F.col("_slug")],
        F.initcap(F.regexp_replace(F.col("_slug"), "-", " ")),
    )
    gib = F.round(F.col("_mem_mib") / 1024.0, 1)
    gib_label = F.when(
        gib == F.floor(gib), F.concat(gib.cast("long").cast("string"),
                                      F.lit(" GB RAM")),
    ).otherwise(F.concat(gib.cast("string"), F.lit(" GB RAM")))
    cpu_label = F.concat(
        F.col("_cpu").cast("string"),
        F.when(F.col("_cpu") != 1, F.lit(" vCPUs")).otherwise(F.lit(" vCPU")),
    )
    spec = F.concat_ws(", ", F.filter(
        F.array(F.when(F.col("_cpu").isNotNull(), cpu_label),
                F.when(F.col("_mem_mib").isNotNull(), gib_label)),
        lambda c: c.isNotNull(),
    ))
    description = F.concat(
        F.lit("PostgreSQL Cloud SQL "), label,
        F.when(spec != "", F.concat(F.lit(" ("), spec, F.lit(")")))
        .otherwise(F.lit("")),
    )
    # HA: any of the tier's regions offers Regional vCPUs for any family
    # the reference accepts (its check degenerates to family-agnostic)
    ha_regions = sql_ha_families(skus).select("region").distinct()
    tier_regions = parsed.select("tier", F.explode_outer("regions").alias("region"))
    ha = (
        tier_regions.join(F.broadcast(ha_regions), "region", "left_semi")
        .select("tier").distinct().withColumn("_ha", F.lit(True))
    )
    base = (
        parsed.join(ha, "tier", "left")
        .withColumn(
            "ha_supported",
            F.when(F.col("_price_family") == "shared", F.lit(False))
            .when(F.size(F.coalesce("regions", F.array())) == 0,
                  F.lit(None).cast("boolean"))
            .otherwise(F.coalesce("_ha", F.lit(False))))
        .crossJoin(F.broadcast(metadata))
    )
    dim = servers.select(
        F.col("api_reference").alias("_srv_ref"),
        F.col("server_id").alias("_srv_id"))
    base = base.join(
        F.broadcast(dim),
        F.regexp_replace(F.col("tier"), r"^db-", "") == F.col("_srv_ref"),
        "left")
    return base.select(
        F.lit(vendor_id).alias("vendor_id"),
        F.col("tier").alias("database_id"),
        F.col("tier").alias("name"),
        F.col("tier").alias("api_reference"),
        F.col("tier").alias("display_name"),
        description.alias("description"),
        F.col("_srv_id").alias("server_id"),
        F.lit("postgresql").alias("engine"),
        "engine_versions",
        F.col("_slug").alias("family"),
        F.col("_cpu").alias("vcpus"),
        F.col("_mem_mib").alias("memory_amount"),
        F.lit(None).cast("long").alias("storage_size"),
        "ha_supported",
        F.lit(None).cast("boolean").alias("storage_autoscaling"),
        F.lit(True).alias("scheduled_backups"),
        F.lit(None).cast("int").alias("continuous_backups"),
        "custom_config", "custom_extensions",
    ).dropDuplicates(["database_id"])


def gcp_sql_database_prices(tiers: DataFrame, skus: DataFrame,
                            regions: DataFrame,
                            vendor_id: str = "gcp") -> DataFrame:
    """Tier x region hourly prices (inventory_database_prices,
    _gcp.py:1414-1504): shared tiers price from their instance SKU,
    dedicated tiers compose vcpu_rate x cpus + ram_rate x GiB."""
    index = sql_compute_index(skus)
    parsed = _tier_parsed(tiers).withColumn(
        "_mem_gib", F.col("ram") / F.lit(1024.0 ** 3))
    probe = regions.select(
        "region_id",
        F.coalesce(F.col("api_reference"), F.col("region_id")).alias("region"))
    # a tier with an explicit region list prices only there; an empty
    # list means every landed region
    tr = parsed.join(
        F.broadcast(probe),
        F.size(F.coalesce("regions", F.array())).isin(0)
        | F.array_contains(F.coalesce("regions", F.array()), F.col("region")),
    )
    shared_map = F.create_map(*[
        F.lit(x) for kv in _SHARED_TIERS.items() for x in kv
    ])
    shared = (
        tr.filter(F.col("_price_family") == "shared")
        .withColumn("component", shared_map[F.col("tier")])
        .join(index.filter(F.col("price_family") == "shared"),
              ["region", "component"])
        .select("region_id", F.col("tier").alias("database_id"),
                F.col("hourly").alias("price"), "currency")
    )
    vcpu = index.filter(F.col("component") == "vcpu").select(
        "region", F.col("price_family").alias("_price_family"),
        F.col("hourly").alias("_vcpu_rate"), "currency")
    ram = index.filter(F.col("component") == "ram").select(
        "region", F.col("price_family").alias("_price_family"),
        F.col("hourly").alias("_ram_rate"))
    dedicated = (
        tr.filter((F.col("_price_family") != "shared")
                  & F.col("_cpu").isNotNull() & (F.col("ram") > 0))
        .join(vcpu, ["region", "_price_family"])
        .join(ram, ["region", "_price_family"])
        .select(
            "region_id", F.col("tier").alias("database_id"),
            (F.col("_vcpu_rate") * F.col("_cpu")
             + F.col("_ram_rate") * F.col("_mem_gib")).alias("price"),
            "currency",
        )
    )
    return shared.unionByName(dedicated).select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "database_id",
        F.lit("ondemand").alias("allocation"),
        F.lit("hour").alias("unit"),
        F.round("price", 4).alias("price"),
        F.lit(0.0).alias("price_upfront"),
        "currency",
    )


def _storage_spec_dim(spark) -> DataFrame:
    rows = [(sid, s["name"], s["description"], s["min_size"], s["max_size"],
             s["max_iops"], s["max_throughput"])
            for sid, s in STORAGE_SPECS.items()]
    return spark.createDataFrame(
        rows, "database_storage_id string, name string, description string, "
              "min_size long, max_size long, max_iops long, max_throughput long")


def gcp_sql_database_storages(skus: DataFrame,
                              vendor_id: str = "gcp") -> DataFrame:
    """Storage types actually present in the SKU feed, joined to the
    published specs (inventory_database_storages, _gcp.py:1507-1537)."""
    found = (
        skus.select(_storage_id(F.col("description")).alias("database_storage_id"))
        .filter(F.col("database_storage_id").isNotNull())
        .distinct()
    )
    return found.join(
        F.broadcast(_storage_spec_dim(skus.sparkSession)),
        "database_storage_id",
    ).select(
        F.lit(vendor_id).alias("vendor_id"),
        "database_storage_id", "name", "description",
        F.lit("data").alias("scope"),
        "min_size", "max_size", "max_iops", "max_throughput",
    )


def gcp_sql_database_storage_prices(skus: DataFrame, regions: DataFrame,
                                    vendor_id: str = "gcp") -> DataFrame:
    """GB/month storage prices per region (_gcp.py:1540-1607): GiBy.mo
    as-is, GiBy.h x 730, keep-first per (region, storage)."""
    priced = (
        skus.withColumn("_pos", F.monotonically_increasing_id())
        .withColumn("database_storage_id", _storage_id(F.col("description")))
        .filter(F.col("database_storage_id").isNotNull())
        .withColumn(
            "price",
            F.when(F.col("usage_unit") == "GiBy.mo",
                   _hourly(F.col("units"), F.col("nanos")))
            .when(F.col("usage_unit") == "GiBy.h",
                  _hourly(F.col("units"), F.col("nanos")) * 730))
        .filter(F.col("price").isNotNull())
        .select("database_storage_id", "price", "_pos",
                F.coalesce(F.col("currency"), F.lit("USD")).alias("currency"),
                F.explode("service_regions").alias("region"))
    )
    probe = regions.select(
        "region_id",
        F.coalesce(F.col("api_reference"), F.col("region_id")).alias("region"))
    rows = priced.join(F.broadcast(probe), "region")
    w = Window.partitionBy("region_id", "database_storage_id").orderBy("_pos")
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "database_storage_id",
            F.lit("GB").alias("unit"),
            F.round("price", 6).alias("price"),
            F.lit(0.0).alias("price_upfront"),
            "currency",
        )
    )

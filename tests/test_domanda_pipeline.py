"""End-to-end test of the domanda pipeline on FIXTURES.md-style flight
frames, locking in the reference quirks (SURVEY.md §8): empty-string key
matching (Q1), many-to-many fan-out (Q3), latest-wins dedup, P4/P5 row
removal, and the 94-column output contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from domanda_etl_spark.plans import domanda
from domanda_etl_spark.sources import Extractor
from tests.flight_fixtures import CUTOFF, NOW, build_frames, write_lake


def run(spark):
    cola, settour, lion, ez, fez, rich = build_frames(spark)
    return domanda.run_pipeline(cola, settour, lion, ez, fez, rich, now_epoch=NOW)


def test_output_schema_is_94_columns(spark):
    out = run(spark)
    assert len(out.columns) == 94
    for c in (
        "departure_flight_number_1",
        "return_cabin_class_3",
        "ezfly_ticket_price",
        "foreign_supplier_eztraval_tax",
        "kp",
        "activity_fee_adjustment",
    ):
        assert c in out.columns, c


def test_join_enrichment_and_filters(spark):
    out = run(spark).cache()
    rows = {
        (r["departure_flight_number_1"], r["final_price"]): r
        for r in out.collect()
    }
    # cola r3 (JX0500, price 3000) matched no supplier -> removed by P5
    assert not any(k[0] == "JX0500" for k in rows)
    # cola r2 matched eztravel domestic + foreign (price 9000)
    br = rows[("BR016", 9000)]
    assert br["eztravel_ticket_air_tickets_price"] == 8800
    assert br["eztravel_tax"] == 790
    assert br["foreign_supplier_eztraval_ticket_air_tickets_price"] == 9100
    assert br["foreign_supplier_eztraval_tax"] == 810
    assert br["lion_tax"] is None
    # cross-year date handling: departure 2025, return 2026 (F8/F9)
    assert br["departure_date"] == "2025/12/30"
    assert br["return_date"] == "2026/01/02"
    # ezfly phantom supplier stays NULL (Q5)
    assert br["ezfly_ticket_price"] is None


def test_fanout_and_latest_wins(spark):
    out = run(spark).cache()
    ci = out.filter(F.col("departure_flight_number_1") == "CI073").collect()
    # cola r0 (6200) and r4 (6300) each match 2 settour offers (fan-out, Q3)
    # + lion + rich; r1 is an exact dup of r0 except creation_time -> deduped
    prices = sorted((r["final_price"], r["settour_air_tickets_price"]) for r in ci)
    assert prices == [(6200, 5100), (6200, 5150), (6300, 5100), (6300, 5150)]
    # latest creation_time wins for the r0/r1 duplicate pair
    for r in ci:
        if r["final_price"] == 6200:
            assert r["creation_time"] == NOW
    # lion joined via placeholder legs matching cola's missing legs (Q1)
    assert all(r["lion_air_tickets_price"] == 5050 for r in ci)
    # rich joined but has NULL tax
    assert all(r["rich_mond_air_tickets_price"] == 5200 for r in ci)
    assert all(r["rich_mond_tax"] is None for r in ci)


def test_scalar_projection_values(spark):
    out = run(spark).cache()
    r = out.filter(
        (F.col("departure_flight_number_1") == "CI073") & (F.col("final_price") == 6200)
    ).collect()[0]
    assert r["departure_airline_1"] == "CI"
    assert r["departure_airport_1"] == "TPE"
    assert r["departure_arrival_airport_1"] == "HKG"
    assert r["departure_flight_time_1"] == "19:20"
    assert r["departure_arrival_flight_time_1"] == "21:25"
    assert r["departure_flight_duration_1"] == 125
    assert r["return_flight_duration_1"] == 125
    assert r["departure_luggage_value_1"] == 25.0
    assert r["departure_luggage_unit_1"] == "公斤"
    assert r["return_luggage_value_1"] == 1.0
    assert r["return_luggage_unit_1"] == "件"
    assert r["departure_transfer_count"] == 0
    assert r["gds_type"] == "amadeus"
    assert r["departure_date"] == "2025/11/05"
    assert r["kp"] == "3%"
    # leg 2/3 columns exist but are NULL (blank->null at the end)
    assert r["departure_flight_number_2"] is None
    assert r["departure_airline_2"] is None


def test_supplier_validity_filter_removed_bad_rows(spark):
    # settour's 'C7' row must not leak its price anywhere
    out = run(spark)
    assert out.filter(F.col("settour_air_tickets_price") == 1).count() == 0


def _three_leg_inputs(spark, path: str, shape: str) -> list:
    """The six pipeline inputs over the three-leg lake, in three plan
    shapes: through Extractor (production), as bare parquet scans (no
    source DISTINCT, so the stage starts at the scan), and as local
    frames of the same rows."""
    ex = Extractor(spark, write_lake(spark, path), CUTOFF)
    if shape == "scan":
        scan = {k: spark.read.parquet(f"{path}/{t}.parquet") for k, t in Extractor.TABLES.items()}
        ez = scan["eztravel"]
        return [scan["cola"], scan["set"], scan["lion"],
                ez.filter(~F.col("海外供應商")), ez.filter(F.col("海外供應商")), scan["rich"]]
    frames = [
        ex.extract_cola_data(), ex.extract_set_data(), ex.extract_lion_data(),
        ex.extract_eztravel_data(), ex.extract_foreign_supplier_eztravel_data(),
        ex.extract_rich_data(),
    ]
    if shape == "local":
        return [spark.createDataFrame(f.collect(), f.schema) for f in frames]
    return frames


@pytest.mark.parametrize("shape", ["extractor", "scan", "local"])
def test_three_leg_lake_compiles_without_codegen_fallback(spark, tmp_path, shape):
    """The spine stage fuses the cola DISTINCT, cleaning, key
    normalization, five broadcast joins, the 94-column projection and the
    partial dedup aggregate into one generated class. With every leg's raw
    columns present its projection method once outgrew janino's 64 KB
    limit, and each execution paid a failed compile before falling back to
    interpreted execution. spark.sql.codegen.fallback=false turns that
    silent fallback into an error."""
    frames = _three_leg_inputs(spark, str(tmp_path), shape)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = domanda.run_pipeline(*frames, now_epoch=NOW).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    # the one-leg fixtures fan out as in test_fanout_and_latest_wins
    one_leg = [r for r in rows if r["departure_flight_number_2"] is None]
    assert sum(r["departure_flight_number_1"] == "CI073" for r in one_leg) == 4
    r = next(r for r in rows if r["final_price"] == 7700)
    assert (r["departure_transfer_count"], r["return_transfer_count"]) == (2, 2)
    assert r["departure_flight_number_3"] == "BR891"
    assert r["return_flight_time_3"] == "06:10"
    assert r["departure_arrival_flight_time_2"] == "05:05"
    assert r["return_airport_2"] == "TPE"
    assert r["departure_flight_duration_3"] == 56
    assert (r["return_luggage_value_3"], r["return_luggage_unit_3"]) == (30.0, "公斤")
    assert r["departure_aircraft_type_2"] == "A321"
    assert r["settour_air_tickets_price"] == 7000

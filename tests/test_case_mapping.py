"""lower()/upper() take the JDK's case mapping, not ICU's
(``spark.sql.icu.caseMappings.enabled=false``), and on the code points
where the two disagree the JDK's answer is the DuckDB oracle's.

The points are the 67 uppercase letters where JDK 17 and ICU 77 give a
different lower(), and their 67 lowercase partners, where they give a
different upper(); on every other code point the switch changes
nothing, so other differences between Spark and DuckDB (special casing
such as ß) are out of scope here."""

from __future__ import annotations

from pyspark.sql import functions as F

from artemia_airflow_spark.session import ensure_engine_conf

ICU = "spark.sql.icu.caseMappings.enabled"

UPPER = [
    0x1C89, 0x2C2F, 0xA7C0,
    0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC,
    *range(0x10570, 0x1057B), *range(0x1057C, 0x1058B),
    *range(0x1058C, 0x10593), 0x10594, 0x10595,
    *range(0x10D50, 0x10D66),
]
LOWER = [
    0x019B, 0x0264, 0x1C8A, 0x2C5F, 0xA7C1, 0xA7CD, 0xA7D1, 0xA7D7,
    0xA7D9, 0xA7DB,
    *range(0x10597, 0x105A2), *range(0x105A3, 0x105B2),
    *range(0x105B3, 0x105BA), 0x105BB, 0x105BC,
    *range(0x10D70, 0x10D86),
]


def _spark_map(spark, fn, points):
    df = spark.createDataFrame([(c, chr(c)) for c in points], "cp int, s string")
    return {r.cp: r.m for r in df.select("cp", fn("s").alias("m")).collect()}


def _duck_map(duck, fn, points):
    return dict(duck.execute(
        f"SELECT cp, {fn}(chr(cp)) FROM (SELECT unnest(?) AS cp)", [points]
    ).fetchall())


def test_lower_and_upper_match_the_oracle_where_jdk_and_icu_disagree(spark, duck):
    assert len(UPPER) == len(set(UPPER)) == 67
    assert len(LOWER) == len(set(LOWER)) == 67
    assert spark.conf.get(ICU) == "false"
    assert _spark_map(spark, F.lower, UPPER) == _duck_map(duck, "lower", UPPER)
    assert _spark_map(spark, F.upper, LOWER) == _duck_map(duck, "upper", LOWER)


def test_ensure_engine_conf_turns_icu_case_mapping_off(spark):
    other = spark.newSession()
    other.conf.unset(ICU)
    assert other.conf.get(ICU) == "true"
    ensure_engine_conf(other)
    assert other.conf.get(ICU) == "false"

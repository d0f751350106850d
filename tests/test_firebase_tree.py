"""B1 fixture: hierarchical sensor-tree JSON → flat typed rows
(SURVEY §2.1 S1, §2.8 N1, §2.2 P1)."""

from __future__ import annotations

import json

from dht11_data_pipeline_spark.sources.firebase_tree import flatten_readings, read_tree

TREE = {"MCU_Data": {"DEV01TEST": {"HIST_DHT11_DATA": {
    "2024-05-05": {
        "11:30:35": {"TimeZone": "IST", "Humidity": "61", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:30:35"},
        "11:35:35": {"Humidity": "62", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:35:35"},
    },
    "2024-05-06": {
        "09:00:00": {"TimeZone": "IST", "Humidity": "63", "Temperature": "30"},
    },
}},
    "DEV02TEST": {"HIST_DHT11_DATA": {
        "2024-05-05": {"10:00:00": {"TimeZone": "UTC", "Humidity": "50",
                                    "Temperature": "20",
                                    "Timestamp": "2024-05-05 10:00:00"}},
    }},
}}


def _write_tree(tmp_path):
    p = tmp_path / "tree.json"
    p.write_text(json.dumps(TREE))
    return str(p)


def test_flatten_all_devices(spark, tmp_path):
    tree = read_tree(spark, _write_tree(tmp_path))
    rows = flatten_readings(tree).collect()
    assert len(rows) == 4
    assert {r.device_id for r in rows} == {"DEV01TEST", "DEV02TEST"}


def test_missing_field_defaults(spark, tmp_path):
    """Missing TimeZone → 'N/A'; missing Timestamp → epoch sentinel
    (reference STG_Firebase2Oracle.py:57,80-83)."""
    tree = read_tree(spark, _write_tree(tmp_path))
    rows = {(r.device_id, str(r.ts)): r for r in flatten_readings(tree).collect()}
    no_tz = rows[("DEV01TEST", "2024-05-05 11:35:35")]
    assert no_tz.timezone == "N/A"
    no_ts = rows[("DEV01TEST", "1970-01-01 00:00:00")]
    assert no_ts.humidity == "63"


def test_device_and_watermark_filter(spark, tmp_path):
    """Client-side incremental filter → Catalyst predicate (P1/T1)."""
    tree = read_tree(spark, _write_tree(tmp_path))
    out = flatten_readings(tree, device_id="DEV01TEST",
                           since_ts="2024-05-05 11:31:00")
    assert [str(r.ts) for r in out.collect()] == ["2024-05-05 11:35:35"]


def test_corrupt_tree_payload_keeps_good_rows(spark, tmp_path):
    """A malformed tree payload beside a good one yields no rows and
    does not fail the read: the good file's readings still land (the
    reference would crash on it, STG_Firebase2Oracle.py:55-56 dict
    iteration)."""
    import json as _json

    from dht11_data_pipeline_spark.sources.firebase_tree import (
        flatten_readings, read_tree)

    good = {"MCU_Data": {"DEV01": {"HIST_DHT11_DATA": {
        "2024-05-05": {"11:30:35": {
            "TimeZone": "IST", "Humidity": "61", "Temperature": "29",
            "Timestamp": "2024-05-05 11:30:35"}}}}}}
    (tmp_path / "good.json").write_text(_json.dumps(good))
    (tmp_path / "bad.json").write_text("{not valid json at all")

    tree = read_tree(spark, str(tmp_path))
    assert flatten_readings(tree).count() == 1

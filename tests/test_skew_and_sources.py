"""Salted skew mitigation (exactness vs plain plans) and the
document-collection source (S2 field-defaulting semantics)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.skew import salted_aggregate
from dht11_data_pipeline_spark.sources.user_docs import (
    USER_FIELDS, normalized_users, read_user_docs,
)


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from dht11_data_pipeline_spark.sources.tables import load_table
    ev = load_table(spark, sf_dir, "events")
    salted = salted_aggregate(
        ev, ["event_type"], {"value": "sum", "event_id": "count"}, n_salts=16)
    plain = ev.groupBy("event_type").agg(
        F.sum("value").alias("value_sum"),
        F.count("event_id").alias("event_id_count"))
    s = {tuple(r) for r in salted.collect()}
    # float sums: compare rounded (salting changes add order on doubles)
    s = {(t, round(v, 6), c) for t, v, c in s}
    p = {(t, round(v, 6), c) for t, v, c in
         ((r["event_type"], r["value_sum"], r["event_id_count"]) for r in plain.collect())}
    assert s == p


USERS = [
    {"email": "a@x.com", "first_name": "Ann", "country": "DE",
     "income": "1200", "extra_field": "dropped"},
    {"email": "b@x.com", "last_name": "Bee", "gender": "x",
     "dob": "1990-01-01", "phone": "123", "profession": "eng",
     "marital_status": "n", "education": "phd", "state": "BY",
     "city": "M", "country": "DE", "income": "99", "first_name": "B"},
    {"email": "c@x.com"},
]


def test_user_docs_field_defaulting(spark, tmp_path):
    src = str(tmp_path / "users")
    os.makedirs(src)
    with open(os.path.join(src, "u.json"), "w") as f:
        for u in USERS:
            f.write(json.dumps(u) + "\n")
    out = normalized_users(read_user_docs(spark, src))
    assert out.columns == ["email"] + USER_FIELDS + ["n_fields_present"]
    rows = {r["email"]: r for r in out.collect()}
    # missing fields null-filled (reference get_user_data.py:20-27)
    assert rows["a@x.com"]["last_name"] is None
    assert rows["a@x.com"]["n_fields_present"] == 3
    assert rows["b@x.com"]["n_fields_present"] == 12
    assert rows["c@x.com"]["n_fields_present"] == 0
    # extra source fields are dropped by schema, not errors
    assert "extra_field" not in out.columns

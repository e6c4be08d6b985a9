"""Tests for config store parsing and diffing (S6) in
kassette_server_spark.sources.configstore."""

from __future__ import annotations

import copy

from kassette_server_spark.sources.configstore import diff, parse_config

CONF_DOC = {
    "sources": [{"id": 1, "name": "gw", "write_key": "wk", "schema": {
        "table_name": "ev", "schema_fields": [{"name": "a", "type": "INT"}]}}],
    "destinations": [{"id": 2, "name": "pg", "type": "postgres", "schema": {
        "table_name": "ev", "schema_fields": [{"name": "a", "type": "INT"}]}}],
    "connections": [{"id": 10, "source_id": 1, "destination_id": 2,
                     "transforms": [{"type": "field_hide", "field": "x"}]}],
}


def test_config_parse_and_diff():
    old = parse_config(CONF_DOC)
    assert old[10].source.schema.fields[0].type == "INT"
    assert old[10].destination.dest_type == "postgres"

    doc2 = copy.deepcopy(CONF_DOC)
    doc2["connections"][0]["transforms"] = []
    doc2["connections"].append({"id": 11, "source_id": 1, "destination_id": 2})
    new = parse_config(doc2)
    d = diff(old, new)
    assert d.added == (11,) and d.changed == (10,) and d.removed == ()
    assert diff(new, new).empty

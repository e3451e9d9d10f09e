"""Schema-drift checker (A34): Avro schema-resolution classification
between export runs."""

from __future__ import annotations

import json

import pytest

from dbeam_spark.jobs.schema_drift import (
    check_export_drift,
    diff_schemas,
    main,
)


def _rec(*fields) -> dict:
    return {"type": "record", "name": "r", "fields": list(fields)}


def _f(name, typ, **kw):
    d = {"name": name, "type": typ}
    d.update(kw)
    return d


def test_unchanged_and_promoted():
    old = _rec(_f("a", "int"), _f("b", "string"), _f("c", ["null", "long"]))
    new = _rec(_f("a", "long"), _f("b", "string"), _f("c", ["null", "long"]))
    rep = diff_schemas(old, new)
    assert rep.compatible
    assert rep.unchanged == ["b", "c"]
    assert [p[0] for p in rep.promoted] == ["a"]


def test_nullability_widening_ok_narrowing_breaks():
    old = _rec(_f("a", "int"))
    new = _rec(_f("a", ["null", "int"]))
    assert diff_schemas(old, new).compatible
    # narrowing: old nulls unreadable by the new reader
    rep = diff_schemas(new, old)
    assert not rep.compatible
    assert [t[0] for t in rep.type_breaking] == ["a"]


def test_added_field_default_rules():
    old = _rec(_f("a", "int"))
    ok = diff_schemas(old, _rec(_f("a", "int"), _f("b", "string", default="")))
    assert ok.compatible and ok.added_with_default == ["b"]
    bad = diff_schemas(old, _rec(_f("a", "int"), _f("b", "string")))
    assert not bad.compatible and bad.added_breaking == ["b"]


def test_removed_field_is_compatible_but_reported():
    rep = diff_schemas(_rec(_f("a", "int"), _f("b", "string")), _rec(_f("a", "int")))
    assert rep.compatible and rep.removed == ["b"]


def test_type_flip_breaks():
    rep = diff_schemas(_rec(_f("a", "long")), _rec(_f("a", "string")))
    assert not rep.compatible
    assert [t[0] for t in rep.type_breaking] == ["a"]


def test_array_item_change_breaks():
    old = _rec(_f("a", {"type": "array", "items": "int"}))
    same = diff_schemas(old, _rec(_f("a", {"type": "array", "items": "int"})))
    assert same.compatible and same.unchanged == ["a"]
    rep = diff_schemas(old, _rec(_f("a", {"type": "array", "items": "string"})))
    assert not rep.compatible


def test_export_dirs_and_exit_codes(tmp_path):
    old_d, new_d = tmp_path / "run1", tmp_path / "run2"
    old_d.mkdir()
    new_d.mkdir()
    (old_d / "_AVRO_SCHEMA.avsc").write_text(
        json.dumps(_rec(_f("id", "long"), _f("v", "int")))
    )
    (new_d / "_AVRO_SCHEMA.avsc").write_text(
        json.dumps(_rec(_f("id", "long"), _f("v", "long")))
    )
    rep = check_export_drift(str(old_d), str(new_d))
    assert rep.compatible and [p[0] for p in rep.promoted] == ["v"]
    assert main([str(old_d), str(new_d)]) == 0

    (new_d / "_AVRO_SCHEMA.avsc").write_text(
        json.dumps(_rec(_f("id", "long"), _f("v", "string")))
    )
    assert main([str(old_d), str(new_d)]) == 50  # FailedValidation (A24)


def test_missing_schema_file_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        check_export_drift(str(tmp_path), str(tmp_path))

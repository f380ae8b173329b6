"""``sparkocr.manifest``: versioned JSON commit files on a Hadoop
FileSystem."""

import os

import pytest


def test_publish_latest_collect(spark, tmp_path):
    from sparkocr import manifest

    d = str(tmp_path / "m")
    assert manifest.versions(spark, d) == []
    assert manifest.latest(spark, d) == (0, None)
    manifest.publish(spark, d, 1, {"a": 1})
    manifest.publish(spark, d, 2, {"a": 2})
    # staging files are not versions
    with open(os.path.join(d, "3.json.tmp"), "w") as f:
        f.write('{"a": ')
    assert manifest.versions(spark, d) == [1, 2]
    assert manifest.latest(spark, d) == (2, {"a": 2})
    manifest.collect(spark, d, 2)
    assert sorted(os.listdir(d)) == ["2.json", "3.json.tmp"]
    # a tmp file left by a writer that died is overwritten by the publish
    manifest.publish(spark, d, 3, {"a": 3})
    assert sorted(os.listdir(d)) == ["2.json", "3.json"]
    assert manifest.latest(spark, d) == (3, {"a": 3})


def test_publish_refuses_a_committed_version(spark, tmp_path):
    """A writer whose version another writer committed first raises and
    leaves that writer's file as it was."""
    from sparkocr import manifest

    d = str(tmp_path / "m")
    manifest.publish(spark, d, 1, {"writer": "first"})
    with pytest.raises(ValueError, match="already has version 1: another writer committed"):
        manifest.publish(spark, d, 1, {"writer": "second"})
    assert manifest.latest(spark, d) == (1, {"writer": "first"})
    assert os.listdir(d) == ["1.json"]


def test_unparseable_newest_version_raises(spark, tmp_path):
    from sparkocr import manifest

    d = str(tmp_path / "m")
    manifest.publish(spark, d, 1, {"a": 1})
    with open(os.path.join(d, "2.json"), "w") as f:
        f.write('{"a": ')
    with pytest.raises(ValueError):
        manifest.latest(spark, d)

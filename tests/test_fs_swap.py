"""functions/fs: existence checks."""

from __future__ import annotations

import os

from admira_etl_project_prueba_spark.functions.fs import path_exists


def test_path_exists(spark, tmp_path):
    p = str(tmp_path / "x")
    assert not path_exists(spark, p)
    os.makedirs(p)
    with open(os.path.join(p, "part-0"), "w") as f:
        f.write("a")
    assert path_exists(spark, p)

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from wine_label_ocr_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("wlos_wh_"))
    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": wh})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle_gate(spark):
    """``check(name)``: run the ``__spark_entry__`` query ``name`` on its
    default scale factor and its DuckDB ``oracle_sql()`` twin over the
    same parquet tables, assert equal columns, row count and value hash
    (the ``tools/check_oracle.py`` comparison), and return the Spark
    DataFrame."""
    import importlib.util
    from pathlib import Path

    import __spark_entry__ as E

    path = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    C = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(C)
    con = C.open_duckdb(E.SF_DEFAULT)

    def check(name):
        sdf = E.queries()[name](spark, E.SF_DEFAULT)
        scols, srows = C.spark_rows(sdf)
        dcols, drows = C.duck_rows(con, E.oracle_sql()[name])
        assert sorted(scols) == sorted(dcols)
        assert len(srows) == len(drows)
        assert C.value_hash(scols, srows) == C.value_hash(dcols, drows)
        return sdf

    yield check
    con.close()

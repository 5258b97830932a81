import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ocrd_calamari_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_conf(spark):
    """Set session settings for one test: ``spark_conf({key: value})``.
    Each key gets its earlier value back at teardown."""
    saved = {}

    def set_conf(settings: dict) -> None:
        for key, value in settings.items():
            saved.setdefault(key, spark.conf.get(key))
            spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        spark.conf.set(key, value)


@pytest.fixture(scope="session")
def pages_pdf():
    from ocrd_calamari_spark.gen import gen_pages

    return gen_pages(300)


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory, pages_pdf):
    from ocrd_calamari_spark.gen import write_pages_parquet

    d = tmp_path_factory.mktemp("pages")
    path = str(d / "pages.parquet")
    write_pages_parquet(pages_pdf, path)
    return path

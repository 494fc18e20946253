"""get_spark's catalog: the session keeps its catalog in memory, so no
Derby metastore starts and no Derby option is needed."""


def test_session_catalog_is_in_memory(spark):
    conf = spark.sparkContext.getConf()
    assert spark.conf.get("spark.sql.catalogImplementation") == "in-memory"
    assert "derby" not in conf.get("spark.driver.extraJavaOptions", "")

from pdf_craft_spark.sources.testdata import TABLE_NAMES, load_table, table_path  # noqa: F401

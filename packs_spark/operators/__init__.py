"""Pack-equivalent operators.

Each module mirrors one reference pack (SURVEY.md §2) as declarative Spark
aggregation plans returning the operator's result set (SQL-checkable
against the DuckDB oracle); ``pack_metrics`` holds the builders of the
smaller table packs.  ``pack_api.run_pack`` and the registry rows call the
same builder per pack, so the oracle checks what ``run_pack`` returns.
"""

"""mr_crawly_spark — a from-scratch PySpark-native distributed crawl engine.

Re-expresses WHAT wischmcj/mr-crawly computes (URL frontier, URL-seen set,
robots + per-host politeness, sitemap expansion, interleaved text+media span
documents) as an idiomatic Spark DataFrame pipeline:

- Redis/RQ queues      -> micro-batch rounds over a ``frontier`` DataFrame
- visited_urls set     -> ``seen`` table + exact anti-join
- BeautifulSoup parse  -> span-array documents + vectorized Arrow/pandas UDFs
- SQLite sinks         -> snapshot-versioned parquet tables with manifests
- RQ retry/backoff     -> ``retry_count``/``next_attempt_ts`` columns (logical time)

Reference citations in docstrings are ``file:line`` under /root/reference/.
"""

__version__ = "0.1.0"

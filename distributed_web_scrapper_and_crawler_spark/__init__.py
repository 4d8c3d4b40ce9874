"""PySpark-native URL-frontier + fetch-scheduler engine.

A brand-new engine with the query/data-processing capabilities of the
reference crawler (``abdullahiftikharcode/Distributed-Web-Scrapper-and-Crawler``),
re-expressed Spark-first:

- the RabbitMQ/Mongo control plane becomes DataFrame *rounds* over
  snapshot-checkpointed state tables (frontier / seen / pages / metrics);
- the Mongo unique-index dedup becomes one anti-join per round against
  the enqueued key set on ``xxhash64`` URL fingerprints;
- the one-URL-at-a-time FIFO dispatcher becomes window-ranked DataFrame
  batches (rank over host, depth, discovery seq);
- BeautifulSoup extraction becomes vectorized Arrow UDFs over interleaved
  text+media span documents.

Nothing here is a port: the reference (Python + Mongo + RabbitMQ, see
``/root/reference``) is only the semantic contract.
"""

__version__ = "0.1.0"

"""weaver_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch rebuild of the capabilities of Bromistas/Weaver (a Go
distributed e-commerce scraper: HTTP message queues + colly scrappers +
Chord-DHT JSON storage) as an idiomatic Spark engine:

- the URL frontier is a durable table (append-only delta log with atomic
  per-round commits — the Iceberg-shaped design; see ``catalog.py``),
- queue Put/Pop/Ack/lease-expiry (reference ``src/queue/main.go:31-87``)
  become status columns + MERGE-style round commits,
- the Chord placement ring (reference ``src/chord/``) collapses to hash
  partitioning — the shuffle service IS the ring,
- fetch + parse + image decode run as Arrow-vectorized ``mapInPandas``
  stages, never per-row Python,
- the URL-seen set is an exact left-anti join, with a sharded Bloom (or
  cuckoo) seen filter maintained beside it for 10^10-frontier scale,
- politeness/robots/priority scheduling is pure window logic over salted
  host keys.

Reproduction mode matches the reference semantics exactly (single-frontier
FIFO, ack-on-pop at-most-once, fan-out caps, storage-key dedup — see
SURVEY.md §0.1); scale mode layers the north-rule upgrades on top.
"""

__version__ = "0.1.0"

"""Sinks: the manifest-committed table store (``manifest``), bucketed
layouts (``maintenance``), training-data shards (``shards``,
``webdataset``) — SURVEY.md A8 + §7.4."""

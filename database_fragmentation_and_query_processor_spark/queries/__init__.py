"""The query registry. ``common`` holds the shared constants and table
readers, the family modules (``families`` … ``corpusops``) hold the
builders and their oracle SQL, and ``registry`` assembles
``QUERIES`` / ``ORACLE_SQL``."""

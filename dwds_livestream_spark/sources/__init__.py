"""Sources (SURVEY.md §2.1): access log (batch; streaming from the live
file via the ``tail`` source or from a directory), JSONL collector input
(a directory, or the live endpoint via the ``http_poll`` source),
dimension loader with periodic refresh."""

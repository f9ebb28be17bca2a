"""Sinks (SURVEY.md §2.7): micro-batched fact-table sink (K4/K5),
JSONL/SSE serving (K2/K3) with each client's ``?epm=N`` (W4)."""

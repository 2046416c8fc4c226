"""Host-sized benchmark for the BM25 engine (see ``perfbench/run.py``)."""

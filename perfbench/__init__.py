"""Benchmark of the wikifrontier crawl engine; see NOTES.md."""

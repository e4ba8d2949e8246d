"""Same-host benchmark of the crawl engine; see run.py and README.md."""

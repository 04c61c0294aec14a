"""Engine-tier sources: the WARC container reader and writer."""

"""Sizes and kernel settings shared by the benchmark's processes."""

CRAWL_PAGES = 20_000  # Zipf crawl pages, before the islands
AVG_OUT = 8  # out-links per page: uniform on 1 .. 2*AVG_OUT before dedupe
ZIPF_THETA = 0.8

PR_SUPERSTEPS = 8  # fixed PageRank supersteps; 2..K are timed in the loop
DAMPING = 0.85
LPA_ROUNDS = 6  # fixed rounds; 2..R are timed in the loop

EXTRACT_BATCH = 2_000  # pages per direct parse_links_pd call (traced run)

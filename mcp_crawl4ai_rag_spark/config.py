"""Engine-wide constants.

Values mirror the reference configuration (jroth55/mcp-crawl4ai-rag) so that
differential tests run under identical knobs; each constant cites the
reference location it reproduces.
"""

from __future__ import annotations

# Binary-extension reject list — reference src/crawl4ai_mcp.py:121-144.
# A URL ending in any of these (case-insensitive) is never scheduled;
# exception: '.xml.gz' is kept because it is usually a gzipped sitemap.
BINARY_EXTENSIONS: tuple[str, ...] = (
    ".zip", ".gz", ".tar", ".rar", ".7z",
    ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".svg", ".ico",
    ".mp3", ".mp4", ".avi", ".mov", ".wmv", ".flv",
    ".exe", ".dmg", ".pkg", ".deb", ".rpm",
    ".jar", ".war", ".ear",
    ".woff", ".woff2", ".ttf", ".eot",
)

# Chunker knobs — reference src/crawl4ai_mcp.py:231,302.
DEFAULT_CHUNK_SIZE = 5000
MIN_BREAK_FRACTION = 0.3  # break points accepted only past 30% of chunk_size

# Embedding surface — reference src/utils.py:21,44-46; crawled_pages.sql:12.
EMBEDDING_DIM = 1536
EMBEDDING_BATCH_SIZE = 20
MAX_DOCUMENT_LENGTH = 25000  # reference src/utils.py:258-259
QUERY_CONTEXT_PREFIX = (
    "This is a search query looking for relevant content about:\n---\n"
)  # reference src/utils.py:556-561

# Crawl knobs — reference src/crawl4ai_mcp.py:562,642-657; :43.
DEFAULT_MAX_DEPTH = 3
MAX_DEPTH_CAP = 10
DEFAULT_MAX_CONCURRENT = 10
MAX_CONCURRENT_CAP = 50
SITEMAP_MAX_DEPTH = 2

# Politeness defaults — crawl4ai RateLimiter semantics per BASELINE.json
# north_star (base delay window, cap, retries). Epoch-granular: an epoch
# "lasts" EPOCH_SECONDS of simulated wall-clock, so a host with delay d gets
# floor(EPOCH_SECONDS / d) fetch slots per epoch.
POLITENESS_BASE_DELAY_MIN = 1.0
POLITENESS_BASE_DELAY_MAX = 3.0
POLITENESS_MAX_DELAY = 60.0
POLITENESS_MAX_RETRIES = 3
EPOCH_SECONDS = 30.0

# Top-k retrieval default — reference src/crawl4ai_mcp.py:1126,1142.
DEFAULT_MATCH_COUNT = 5

# Hot-host salting: number of per-host lanes used for the two-phase
# politeness pop (SURVEY.md §2.10 J4).
DEFAULT_SALT_LANES = 16

# Bloom filter defaults for the URL-seen pre-filter (north_star).
BLOOM_FPP = 0.01

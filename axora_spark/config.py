"""Crawl-session configuration.

Mirrors the reference's env/YAML config surface (reference:
config/config.go:11-79, domains.yaml:1-7, crawler/crawler.go:60-96) as a
plain dataclass consumed by the wave-loop driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# colly URLFilters (reference: crawler/crawler.go:68-75). Any-match passes.
DEFAULT_URL_FILTERS: tuple[str, ...] = (
    r"^https://.*$",
    r"^https://libgen\.li/index\.php\?req=[^&]+$",
    r"^https://libgen\.li/edition\.php\?id=[^&]+$",
    r"^https://libgen\.li/ads\.php\?md5=[^&]+$",
    r"^https://libgen\.li/get\.php\?md5=[^&]+&key=[^&]+$",
    r"^https://[^.]+\.booksdl\.lc/get\.php\?md5=[^&]+(?:&key=[^&]+)?$",
)

# The reference's skip-pattern (reference: crawler/dom_handler.go:40-41)
# embeds a literal newline between `register|` and `subscribe`, so the
# compiled alternation contains "\nsubscribe" — which can never match a URL
# path. Faithful mode reproduces the *compiled* behavior: "subscribe" alone
# does NOT trigger a skip. Case-insensitive substring match on the
# normalized path (lowercased, `_` and `.` → `-`).
SKIP_WORDS: tuple[str, ...] = (
    "contact", "privacy", "terms", "faq", "tag", "archive", "about",
    "signin", "login", "register", "\nsubscribe", "feedback", "cookies",
    "sitemap", "help", "introduction", "portal", "events", "community",
    "search", "changes", "contribution",
)
SKIP_PATTERN: str = "(" + "|".join(SKIP_WORDS) + ")"


@dataclass(frozen=True)
class CrawlConfig:
    """Deterministic closure of the reference crawl session parameters.

    The reference's time-based politeness (LimitRule{Parallelism:3, Delay:5s,
    RandomDelay:3s}, crawler/crawler.go:87-92) becomes a per-wave *count*
    budget: ``host_budget = parallelism * wave_seconds / delay_s`` URLs
    admitted per host per wave (SURVEY.md §7.3 item 2). RandomDelay is a
    nondeterminism source, deliberately excluded from the closure.
    """

    seeds: tuple[str, ...]
    allowed_domains: tuple[str, ...]
    max_depth: int = 2              # crawler/crawler.go:63 (seeds + one hop)
    per_host_parallelism: int = 3   # crawler/crawler.go:89
    per_host_delay_s: float = 5.0   # crawler/crawler.go:90
    wave_seconds: float = 60.0      # deterministic budget window (ours)
    url_filters: tuple[str, ...] = DEFAULT_URL_FILTERS
    robots_mode: bool = False       # reference ignores robots (crawler.go:96);
                                    # target mode turns this on (north_rule)
    priority_mode: str = "none"     # "none" (reference-compat: colly has no
                                    # priorities) | "url_score" (target mode,
                                    # operators/priority.py) | "pagerank"
                                    # (link-authority admission over the
                                    # crawl's own extracted graph,
                                    # operators/pagerank.py — VERDICT r4 #5)
    rank_every: int = 1             # pagerank mode: recompute the rank
                                    # table on waves where wave %
                                    # rank_every == 0, reuse the committed
                                    # table otherwise — at 10^10 URLs the
                                    # full power iteration amortizes over
                                    # k waves while the frontier join
                                    # stays per-wave
    topic: str = "economy"          # rest.http:5
    chunk_method: str = "md"        # "md" | "sen" (chunking.go:52-58)
    tokenizer: str = "wordpiece"    # "wordpiece" (BGE/BERT vocab, X10,
                                    # chunking.go:34-36) | "estimate"
                                    # (native ceil(len/4)); wordpiece falls
                                    # back to estimate if no tokenizer.json
    min_tokens: int = 75            # chunking.go:44,139
    max_tokens: int = 480           # docker-compose.yml:20
    quality_threshold: float = 67.0  # text_extraction.go:171
    embedding_dim: int = 768        # qdrantdb/crawl_vector.go:28
    max_waves: int = 16             # safety cap on the wave loop
    near_dup_ingest: bool = False   # per-wave incremental near-dup of
                                    # extracted documents against the
                                    # accumulated minhash-signature
                                    # store (operators/incremental.py);
                                    # dups land in dup_log instead of
                                    # documents/chunks/vectors
    near_dup_threshold: float = 0.5  # signature-agreement Jaccard
                                    # estimate required to drop a doc
    near_dup_max_bucket: int | None = None  # cap per (band, band_key)
                                    # bucket in the candidate join;
                                    # capped buckets are dropped (the
                                    # lsh_candidate_pairs trade) — set
                                    # on boilerplate-heavy corpora
                                    # where one band key holds
                                    # hundreds of docs
    domain_quota: int | None = None  # cumulative per-host admission cap
                                    # across the whole session (IRLbot-
                                    # style domain budgeting): each
                                    # wave's per-host budget is capped
                                    # at quota minus that host's
                                    # admissions so far, and once a
                                    # host exhausts its quota its
                                    # pending/deferred URLs are DROPPED
                                    # from the frontier (bounded state,
                                    # not eternal deferral)
    trap_detect: bool = False       # statistical crawl-trap pruning
                                    # (operators/traps.py): profile
                                    # (host, path-template) families
                                    # over seen∪frontier each wave and
                                    # drop frontier URLs in families
                                    # that are high-volume AND
                                    # structurally pathological
                                    # (calendar/depth/params)
    trap_min_urls: int = 64         # distinct URLs per family before
                                    # the volume signal fires
    trap_max_path_depth: int = 8    # path-SEGMENT depth signal (not
                                    # the link-hop max_depth above)
    frontier_host_cap: int | None = None  # bounded frontier state: after
                                    # each wave keep only the top-cap
                                    # URLs per host by (priority DESC,
                                    # url ASC) — IRLbot/Heritrix spill
                                    # policy re-expressed as a drop
                                    # (dropped URLs are rediscoverable
                                    # through links from kept pages);
                                    # prevents hub-heavy hosts from
                                    # parking unbounded frontier rows
                                    # the politeness budget never
                                    # reaches (operators/frontier.py
                                    # cap_frontier_per_host)
    adaptive_politeness: bool = False  # latency-adaptive per-host budgets
                                    # (operators/adaptive.py, the Heritrix
                                    # delay-factor analog): EWMA the
                                    # crawl's own per-host fetch latency
                                    # into delay = max(DELAY_FACTOR·est,
                                    # per_host_delay_s) and derive next
                                    # wave's budget from THAT delay —
                                    # slow hosts throttle, the static
                                    # budget stays the ceiling. Requires
                                    # the fetched frame to carry a
                                    # fetch_ms column (real transports
                                    # measure it; fixture corpora may
                                    # declare it); waves/hosts without
                                    # observations use the static budget
    seen_bloom_fpp: float = 0.01
    hot_host_salt: int = 8          # salt shards for skewed hosts (W1)

    def __post_init__(self) -> None:
        # fail at construction, not mid-wave after appends committed
        # (code-review r5: wave % 0 raised ZeroDivisionError in-loop)
        if self.rank_every < 1:
            raise ValueError(
                f"rank_every must be >= 1, got {self.rank_every}")

    @property
    def host_budget(self) -> int:
        """URLs admitted per host per wave (deterministic politeness)."""
        return max(1, int(self.per_host_parallelism * self.wave_seconds / self.per_host_delay_s))


DEFAULT_CONFIG = CrawlConfig(
    seeds=(),
    allowed_domains=(),
)

"""Crawl configuration cascade (SURVEY.md §2.10 D3; reference:
config.py module constants overridden ad hoc per script).

The reference spreads configuration over a constants module plus
per-script literals; overriding means editing files. Here the cascade
is explicit and testable: DEFAULTS < file (JSON) < overrides dict,
resolved once into an immutable ``CrawlConfig``. ``engine_kwargs`` /
``budget_rows`` adapt the resolved values to the CrawlEngine
constructor and the host_budget table, so one config object drives the
whole stack (D3) and is echoed verbatim into the run report (D4).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields
from pathlib import Path

# reference defaults (config.py:6-35)
DEFAULTS = {
    "base_url": "https://www.neko-jirushi.com",
    "delay_between_requests_ms": 2000,
    "max_pages": 50,
    "max_retries": 3,
    "max_per_epoch": 200,
    "n_salts": 4,
    "fetch_images": True,
    "timeout_s": 30.0,
    "user_agent": "webscrape-neko-jirushi-spark/0.1",
    "max_epochs": 100,
    "target_docs": None,
}


@dataclass(frozen=True)
class CrawlConfig:
    base_url: str
    delay_between_requests_ms: int
    max_pages: int
    max_retries: int
    max_per_epoch: int
    n_salts: int
    fetch_images: bool
    timeout_s: float
    user_agent: str
    max_epochs: int
    target_docs: int | None

    @classmethod
    def load(
        cls,
        config_file: str | Path | None = None,
        overrides: dict | None = None,
    ) -> "CrawlConfig":
        """Resolve the cascade: DEFAULTS < file < overrides. Unknown
        keys raise (typos should not pass silently)."""
        merged = dict(DEFAULTS)
        known = {f.name for f in fields(cls)}
        for source, values in (
            ("config file", json.loads(Path(config_file).read_text()) if config_file else {}),
            ("overrides", overrides or {}),
        ):
            for k, v in values.items():
                if k not in known:
                    raise KeyError(f"unknown config key {k!r} in {source}")
                merged[k] = v
        return cls(**merged)

    def engine_kwargs(self) -> dict:
        """The CrawlEngine constructor slice of the config."""
        return {
            "base_url": self.base_url,
            "n_salts": self.n_salts,
            "fetch_images": self.fetch_images,
        }

    def budget_rows(self, hosts: list[str]) -> list[dict]:
        """host_budget table rows for the given hosts."""
        return [
            {
                "host": h,
                "max_per_epoch": self.max_per_epoch,
                "min_delay_ms": self.delay_between_requests_ms,
            }
            for h in hosts
        ]

    def echo(self) -> dict:
        """Flat dict for the run report's config echo (D4)."""
        return {
            f.name: getattr(self, f.name)
            for f in fields(self)
            if getattr(self, f.name) is not None
        }

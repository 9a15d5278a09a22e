"""Config parsing — the reference's INI surface (S6).

Reads the reference's exact config.ini layout (config.ini:1-19,
utils/config.py:4-18) — same sections, same keys, same validation
asserts — plus an optional [SPARK] section for engine knobs the
reference had no concept of.  ``host``/``port`` (the spacetime
cache server) become the page-store path: in this engine the "cache
server" IS the pages table (SURVEY §2.1 S3).
"""

from __future__ import annotations

import re
from configparser import ConfigParser
from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    user_agent: str
    threads_count: int
    save_file: str               # → frontier state_dir
    seed_urls: list[str]
    time_delay: float            # seconds (politeness, config.ini:12)
    pages_path: str = ""
    status_path: str | None = None
    robots_path: str | None = None
    master: str = ""
    window_ms: int = 32_000
    order: str = "lifo"
    extra: dict = field(default_factory=dict)

    @property
    def delay_ms(self) -> int:
        return int(self.time_delay * 1000)


def load_config(path: str) -> CrawlConfig:
    """Parse a reference-layout config.ini (utils/config.py parity,
    including its user-agent validation asserts)."""
    cp = ConfigParser()
    read = cp.read(path)
    if not read:
        raise FileNotFoundError(path)

    user_agent = cp["IDENTIFICATION"]["USERAGENT"].strip()
    assert user_agent != "DEFAULT AGENT", "Set useragent in config.ini"
    assert re.match(r"^[a-zA-Z0-9_ ,]+$", user_agent), (
        "User agent should not have any special characters "
        "outside '_', ',' and 'space'"
    )

    spark_sec = cp["SPARK"] if cp.has_section("SPARK") else {}
    return CrawlConfig(
        user_agent=user_agent,
        threads_count=int(cp["LOCAL PROPERTIES"]["THREADCOUNT"]),
        save_file=cp["LOCAL PROPERTIES"]["SAVE"],
        seed_urls=cp["CRAWLER"]["SEEDURL"].split(","),
        time_delay=float(cp["CRAWLER"]["POLITENESS"]),
        pages_path=spark_sec.get("PAGES", ""),
        status_path=spark_sec.get("STATUS") or None,
        robots_path=spark_sec.get("ROBOTS") or None,
        master=spark_sec.get("MASTER", ""),
        window_ms=int(spark_sec.get("WINDOWMS", "32000")),
        order=spark_sec.get("ORDER", "lifo"),
    )

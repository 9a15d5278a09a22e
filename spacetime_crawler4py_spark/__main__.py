"""CLI — the reference's launch.py twin (launch.py:9-23).

    python -m spacetime_crawler4py_spark [--restart] [--config config.ini]

Same flags and lifecycle: parse config → build frontier (resuming
from the save state unless --restart, crawler/frontier.py:16-36) →
crawl to exhaustion → write the four report files.
"""

from __future__ import annotations

import shutil
from argparse import ArgumentParser


def main(config_file: str, restart: bool) -> None:
    from spacetime_crawler4py_spark.analytics.report import write_report_files
    from spacetime_crawler4py_spark.config import load_config
    from spacetime_crawler4py_spark.crawl.loop import CrawlEngine
    from spacetime_crawler4py_spark.session import get_spark

    cfg = load_config(config_file)
    if restart:
        # launch.py --restart ≡ delete the save file
        # (crawler/frontier.py:21-25)
        shutil.rmtree(cfg.save_file, ignore_errors=True)

    spark = get_spark(
        app_name=f"crawl [{cfg.user_agent}]",
        master=cfg.master or None,
    )
    eng = CrawlEngine(
        spark,
        state_dir=cfg.save_file,
        pages_path=cfg.pages_path,
        status_path=cfg.status_path,
        seeds=cfg.seed_urls,
        window_ms=cfg.window_ms,
        delay_ms=cfg.delay_ms,
        robots_path=cfg.robots_path,
        order=cfg.order,
        strict_lifo=(cfg.threads_count == 1 and cfg.order == "strict"),
    )
    n = eng.run()
    print(f"crawl complete: {n} batches, {len(eng.crawl_order())} fetches")
    write_report_files(eng.crawled_pages(), cfg.save_file + "_reports")
    print(f"reports written to {cfg.save_file}_reports/")


if __name__ == "__main__":
    parser = ArgumentParser()
    parser.add_argument("--restart", action="store_true", default=False)
    parser.add_argument("--config_file", type=str, default="config.ini")
    args = parser.parse_args()
    main(args.config_file, args.restart)

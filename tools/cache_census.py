"""Session-cache census: run every ``bench.HEADLINE`` query once, in
order, in one session and print the number of live session-cache
entries after each, then the peak.  The peak is the figure the
``MAX_ENTRIES`` cap in ``operators/_session_cache.py`` is set above.

    python tools/cache_census.py <sf_dir>
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from crypto_price_tracker_with_etl_dashboard_spark.operators import (  # noqa: E402
    _session_cache,
)
from crypto_price_tracker_with_etl_dashboard_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sf_dir = sys.argv[1]
    spark = get_spark("cache-census")
    spark.sparkContext.setLogLevel("ERROR")
    from __spark_entry__ import queries

    qs = queries()
    peak, at = 0, None
    for name in HEADLINE:
        qs[name](spark, sf_dir).count()
        live = len(_session_cache._ENTRIES)
        print(f"{live:3d}  {name}", flush=True)
        if live > peak:
            peak, at = live, name
    print(f"peak {peak} live entries (first reached after {at}); cap {_session_cache.MAX_ENTRIES}")
    spark.stop()


if __name__ == "__main__":
    main()

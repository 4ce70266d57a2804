"""Package automatedreclin_spark into a --py-files zip for spark-submit."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from automatedreclin_spark.session import package_zip  # noqa: E402

DIST = REPO / "dist"


def main() -> None:
    DIST.mkdir(exist_ok=True)
    out = package_zip(DIST / "automatedreclin_spark.zip")
    print(f"wrote {out} ({out.stat().st_size:,} bytes)")


if __name__ == "__main__":
    main()

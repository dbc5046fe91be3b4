"""The crash-safe publish protocol has one home: lineage.py.

Every directory swap, crash recovery and atomic file write goes through
lineage.swap_dir / recover / publish_json. A rename spelled out anywhere
else is a second copy of the protocol, with its own leftover names that
the recovery sweep does not know.
"""

from __future__ import annotations

import pathlib
import re

import logstash_filter_geoip_spark

RENAME = re.compile(r"\bos\.(rename|replace)\(")


def test_renames_only_in_lineage():
    pkg = pathlib.Path(logstash_filter_geoip_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg) != pathlib.Path("lineage.py")
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if RENAME.search(line)]
    assert not offenders, offenders

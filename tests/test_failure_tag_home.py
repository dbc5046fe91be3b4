"""The default failure tag has one home: config.DEFAULT_TAG_ON_FAILURE.

Engine code that spells the literal out counts only the default tag and
silently reads 0 failures under a custom `tag_on_failure`; it must take the
config's tags (aggregate.failure_flag) instead.
"""

from __future__ import annotations

import pathlib

import logstash_filter_geoip_spark

TAG = "_geoip_lookup_failure"


def test_failure_tag_literal_only_in_config():
    pkg = pathlib.Path(logstash_filter_geoip_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py")) if path.name != "config.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if TAG in line]
    assert not offenders, offenders

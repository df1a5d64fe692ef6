"""Every scale-adaptive fork, each path forced, on the shared edge
fixtures (empty input, NULL ids or endpoints, one hot key): see
tests/dual_path.py for the harness and the fork table."""

from __future__ import annotations

import pytest

from tests.dual_path import FORKS, SHARED, assert_paths_agree


@pytest.mark.parametrize("fork", list(FORKS))
def test_fork_paths_agree(spark, sf_dir, fork):
    assert_paths_agree(spark, sf_dir, fork, SHARED)

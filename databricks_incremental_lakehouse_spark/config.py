"""The deployment config file: ``configs/{env}.json``.

The reference configures a run in exactly one way (``_context.py:24-42``):
the environment name picks a JSON file, and each setting it omits falls
back to an inline default held by its consumer. This module is the only
reader of that file; ``SPARK_GRAFT_ENV`` (default ``dev``) names the
environment when the caller does not.
"""

from __future__ import annotations

import json
import os

CONFIGS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "configs"
)


def load_env_config(env: str | None = None, configs_dir: str | None = None) -> dict:
    """Parsed ``{configs_dir}/{env}.json``, or ``{}`` when the file does
    not exist (every consumer then keeps its inline defaults)."""
    env = env or os.environ.get("SPARK_GRAFT_ENV", "dev")
    path = os.path.join(configs_dir or CONFIGS_DIR, f"{env}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)

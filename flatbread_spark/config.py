"""Config service: defaults → user (``~/.flatbread.json``) → project
(``.flatbread.json`` found by upward traversal), deep-merged in that order.

Mirrors the reference's config behavior (``flatbread/config/service.py:52-73``
load order, ``:80-111`` deep-merge, ``:114-144`` project discovery) with the
defaults of ``flatbread/config/config.defaults.json:1-82`` extended with Spark
dtype names (the reference maps pandas dtype strings; our tables carry Spark
SQL type names).
"""
from __future__ import annotations

import json
from pathlib import Path
from typing import Any

DEFAULTS_STATIC: dict[str, Any] = {
    "transforms": {
        "totals": {
            "label": "Totals",
            "key_labels": ["label"],
            "margin_labels": ["label"],
        },
        "subtotals": {
            "label": "Subtotals",
            "include_level_name": False,
            "key_labels": ["label"],
            "margin_labels": ["label"],
        },
        "percentages": {
            "label_pct": "pct",
            "label_n": "n",
            "ndigits": -1,
            "base": 1,
            "key_labels": ["label_pct"],
        },
        "differences": {
            "label_n": "n",
            "label_diff": "diff",
            "key_labels": ["label_diff"],
        },
    },
    "locale": None,
    "display": {
        "na_rep": "-",
        "max_rows": 30,
        "max_columns": 30,
        "trim_size": 5,
        "separator": "...",
    },
    "output_formats": {
        "percentage": {
            "smart_labels": ["pct"],
            "html_options": {
                "style": "percent",
                "minimumFractionDigits": 0,
                "maximumFractionDigits": 21,
            },
            "excel_format": "0.0%",
        },
        "signed_integer": {
            "smart_labels": ["diff"],
            "html_options": {"signDisplay": "always"},
            "excel_format": "+#,##0;-#,##0",
        },
        "signed_percentage": {
            "smart_labels": [],
            "html_options": {"style": "percent", "signDisplay": "always"},
            "excel_format": "+0.0%;-0.0%",
        },
    },
    # Spark SQL type name → simplified display dtype (reference maps pandas
    # dtype strings, config.defaults.json:54-71; same target vocabulary).
    "dtype_mappings": {
        "string": "str",
        "boolean": "bool",
        "date": "datetime",
        "timestamp": "datetime",
        "timestamp_ntz": "datetime",
        "float": "float",
        "double": "float",
        "tinyint": "int",
        "smallint": "int",
        "int": "int",
        "bigint": "int",
    },
    # engine knobs (no reference equivalent — Spark-side scale policy)
    "engine": {
        # from_df(pos_strategy="auto"): frames up to this many rows are
        # collected into a local relation; larger ones get ranged
        # (two-phase) __pos__ assignment instead of a single-task window
        "pos_auto_threshold": 100_000,
        # embedding_dup_pairs with no candidate-generation key refuses the
        # all-pairs join above this row count (0 disables the guard)
        "allpairs_max_rows": 100_000,
    },
    "format_presets": {
        "currency_eur": {
            "dtypes": ["float", "int"],
            "html_options": {"style": "currency", "currency": "EUR"},
            "excel_format": "#,##0.00 €",
        }
    },
}


def deep_merge(base: dict[str, Any], update: dict[str, Any]) -> dict[str, Any]:
    """Recursive dict merge; update wins on conflicts (``service.py:80-111``)."""
    merged = base.copy()
    for key, val in update.items():
        if key in merged and isinstance(val, dict) and isinstance(merged[key], dict):
            merged[key] = deep_merge(merged[key], val)
        else:
            merged[key] = val
    return merged


def find_project_config(max_levels: int = 5) -> Path | None:
    """Find ``.flatbread.json`` walking up from cwd (``service.py:114-144``)."""
    current = Path.cwd()
    home = Path.home()
    for _ in range(max_levels + 1):
        candidate = current / ".flatbread.json"
        if candidate.is_file():
            return candidate
        if current == current.parent or current == home:
            break
        current = current.parent
    return None


class ConfigService:
    def __init__(self) -> None:
        self._config: dict[str, Any] | None = None
        self._sources: list[str] = []

    @property
    def config(self) -> dict[str, Any]:
        if self._config is None:
            self._load()
        return self._config  # type: ignore[return-value]

    @property
    def sources(self) -> list[str]:
        self.config
        return list(self._sources)

    def get(self, *keys: str, default: Any = None) -> Any:
        node: Any = self.config
        for k in keys:
            if not isinstance(node, dict) or k not in node:
                return default
            node = node[k]
        return node

    def reload(self) -> None:
        self._config = None
        self._sources = []

    def update_runtime(self, updates: dict[str, Any]) -> None:
        self._config = deep_merge(self.config, updates)

    def _load(self) -> None:
        self._sources = ["<defaults>"]
        config = json.loads(json.dumps(DEFAULTS_STATIC))  # deep copy
        user_path = Path("~/.flatbread.json").expanduser()
        if user_path.exists():
            config = deep_merge(config, json.loads(user_path.read_text()))
            self._sources.append(str(user_path))
        if project_path := find_project_config():
            config = deep_merge(config, json.loads(project_path.read_text()))
            self._sources.append(str(project_path))
        self._config = config


CONFIG = ConfigService()


def get_defaults() -> dict[str, Any]:
    return CONFIG.config

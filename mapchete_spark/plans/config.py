""".mapchete-style YAML job configuration.

Replicates the reference's config semantics (SURVEY.md §1.1 / §2.9):

- pyramid: grid (geodetic/mercator/custom dict), metatiling, pixelbuffer,
  tile_size; output metatiling must be <= process metatiling
  (mapchete/config/base.py:171-174).
- zoom_levels: int | {min, max} | [z, ...].
- zoom-conditional values anywhere under ``input`` and
  ``process_parameters``: dict keys 'zoom=N', 'zoom<N', 'zoom<=N',
  'zoom>N', 'zoom>=N' resolved per zoom with the reference's exact
  operator-precedence parse (config/models.py:257-345: '=' and the
  two-char operators are matched before '<'/'>'); all keys of such a
  dict must start with 'zoom'; multiple matches at one zoom raise.
- baselevels: {min, max, lower: resampling, higher: resampling}; zooms
  outside [min, max] are interpolated, not processed
  (config/base.py:497-543).
- bounds / area limiting the process AOI.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

import yaml

from mapchete_spark.tilegrid.grid import Bounds
from mapchete_spark.tilegrid.pyramid import TilePyramid


class ConfigError(ValueError):
    pass


_ZOOM_OPS = [
    ("=", operator.eq),
    ("<=", operator.le),
    (">=", operator.ge),
    ("<", operator.lt),
    (">", operator.gt),
]


def _filter_by_zoom(element: Any, conf_string: str, zoom: int) -> Any:
    for op_str, op_func in _ZOOM_OPS:
        if conf_string.startswith(op_str):
            try:
                target = int(conf_string[len(op_str):].strip())
            except Exception as e:
                raise ConfigError(f"zoom level could not be determined: {e}")
            return element if op_func(zoom, target) else None
    raise ConfigError(f"invalid zoom condition: zoom{conf_string}")


def element_at_zoom(name: Any, element: Any, zoom: int) -> Any:
    """Resolve zoom-conditional config values (reference semantics,
    config/models.py:257-345)."""
    if isinstance(element, dict):
        zoom_keys = [isinstance(k, str) and k.startswith("zoom") for k in element]
        if any(zoom_keys):
            if not all(zoom_keys):
                raise ConfigError(
                    "when using zoom level dependent settings, all keys "
                    f"({', '.join(map(str, element))}) must start with 'zoom'"
                )
            values = []
            for sub_name, sub_element in element.items():
                out = element_at_zoom(sub_name, sub_element, zoom)
                if out is not None:
                    values.append(out)
            if len(values) == 0:
                return None
            if len(values) == 1:
                return values[0]
            raise ConfigError(
                f"multiple possible values configured for element '{name}' "
                f"on zoom {zoom}"
            )
        if "format" in element:
            return element
        out_elements = {}
        for sub_name, sub_element in element.items():
            out = element_at_zoom(sub_name, sub_element, zoom)
            if out is not None:
                out_elements[sub_name] = out
        return out_elements or None
    if isinstance(name, str) and name.startswith("zoom"):
        return _filter_by_zoom(element, name[4:].strip(), zoom)
    return element


def _parse_zoom_levels(raw) -> List[int]:
    if isinstance(raw, int):
        return [raw]
    if isinstance(raw, list):
        return sorted(int(z) for z in raw)
    if isinstance(raw, dict):
        return list(range(int(raw["min"]), int(raw["max"]) + 1))
    raise ConfigError(f"invalid zoom_levels: {raw!r}")


@dataclass
class Baselevels:
    min: int
    max: int
    lower: str = "nearest"
    higher: str = "nearest"


@dataclass
class JobConfig:
    process: str
    zoom_levels: List[int]
    pyramid: TilePyramid
    output: Dict[str, Any]
    raw_input: Any = None
    raw_params: Dict[str, Any] = field(default_factory=dict)
    # J3: {name: {process: file.py|module, args: {...}}} — driver-side
    # tasks run once before any stage, results injected into process
    # params under 'preprocessing.<name>'
    raw_preprocessing: Dict[str, Any] = field(default_factory=dict)
    baselevels: Optional[Baselevels] = None
    bounds: Optional[Bounds] = None
    # V12: process AOI geometry — accepts WKT strings, GeoJSON dicts,
    # __geo_interface__ objects, WKB bytes, or bounds (reference
    # config/parse.py:198-251); tiles outside it are excluded exactly
    area: Optional[object] = None
    # directory of the .mapchete file: relative `process: my_process.py`
    # paths resolve against it (reference config semantics)
    config_dir: Optional[str] = None

    @staticmethod
    def from_dict(conf: dict) -> "JobConfig":
        for key in ("process", "zoom_levels", "pyramid", "output"):
            if key not in conf:
                raise ConfigError(f"missing config key: {key}")
        pyr_conf = dict(conf["pyramid"])
        pyramid = TilePyramid(
            grid=pyr_conf.get("grid", "geodetic"),
            metatiling=pyr_conf.get("metatiling", 1),
            tile_size=pyr_conf.get("tile_size", 256),
            pixelbuffer=pyr_conf.get("pixelbuffer", 0),
        )
        output = dict(conf["output"])
        out_meta = int(output.get("metatiling", pyramid.metatiling))
        if out_meta > pyramid.metatiling:
            raise ConfigError(
                "output metatiling must be smaller or equal process metatiling"
            )
        zooms = _parse_zoom_levels(conf["zoom_levels"])
        bl = None
        if conf.get("baselevels"):
            raw = conf["baselevels"]
            bl = Baselevels(
                min=int(raw["min"]),
                max=int(raw["max"]),
                lower=raw.get("lower", "nearest"),
                higher=raw.get("higher", "nearest"),
            )
            if bl.min < min(zooms) or bl.max > max(zooms):
                raise ConfigError("baselevels must be within zoom_levels")
        bounds = Bounds(*conf["bounds"]) if conf.get("bounds") else None
        area = None
        if conf.get("area") is not None:
            from mapchete_spark.geometry.wkt import guess_geometry

            area, _ = guess_geometry(conf["area"])
            ab = area.bounds
            bounds = ab if bounds is None else bounds.intersection(ab)
        return JobConfig(
            process=str(conf["process"]),
            zoom_levels=zooms,
            pyramid=pyramid,
            output=output,
            raw_input=conf.get("input"),
            raw_params=conf.get("process_parameters") or {},
            raw_preprocessing=conf.get("preprocessing") or {},
            baselevels=bl,
            bounds=bounds,
            area=area,
            config_dir=conf.get("config_dir"),
        )

    @staticmethod
    def from_yaml(text: str) -> "JobConfig":
        return JobConfig.from_dict(yaml.safe_load(text))

    @staticmethod
    def from_file(path: str) -> "JobConfig":
        import os

        with open(path) as f:
            conf = yaml.safe_load(f.read())
        conf.setdefault("config_dir", os.path.dirname(os.path.abspath(path)))
        return JobConfig.from_dict(conf)

    # ---- per-zoom views ------------------------------------------------------

    def params_at_zoom(self, zoom: int) -> Dict[str, Any]:
        out = element_at_zoom("process_parameters", self.raw_params, zoom)
        return out or {}

    def input_at_zoom(self, zoom: int) -> Any:
        return element_at_zoom("input", self.raw_input, zoom)

    def process_zooms(self) -> List[int]:
        """Zooms executed by the user process (baselevels only, if set),
        descending — the reference's batch order."""
        if self.baselevels:
            zs = [z for z in self.zoom_levels
                  if self.baselevels.min <= z <= self.baselevels.max]
        else:
            zs = list(self.zoom_levels)
        return sorted(zs, reverse=True)

    def overview_zooms_lower(self) -> List[int]:
        """Zooms below the baselevel range (interpolated from children)."""
        if not self.baselevels:
            return []
        return sorted(
            (z for z in self.zoom_levels if z < self.baselevels.min), reverse=True
        )

    def overview_zooms_higher(self) -> List[int]:
        if not self.baselevels:
            return []
        return sorted(z for z in self.zoom_levels if z > self.baselevels.max)

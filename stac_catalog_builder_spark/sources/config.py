"""Collection/asset configuration loaded from a JSON file.

The reference's user-facing entry point is ``CollectionConfig.from_json_file``
(stacbuilder/config.py:304-312; fields config.py:274-302) — collection
identity, layout template, the input-path-parser spec, and per-asset-type
``AssetConfig`` entries carrying title/media_type/roles plus the band configs
that drive the eo/raster STAC extensions (config.py:62-195, 198-237).

Spark form: the JSON loads driver-side into a plain dict, and the asset
configs become a tiny *dimension DataFrame* (with a nested
``bands array<struct>`` column) that broadcasts onto the fact table. A
default config matching the synthetic corpus ships with the package
(``data/collection-config.json``).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

DEFAULT_CONFIG_PATH = Path(__file__).resolve().parent.parent / "data" / "collection-config.json"

BAND_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("nodata", T.IntegerType()),
        T.StructField("index", T.IntegerType()),
    ]
)

ASSET_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("asset_type", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("roles", T.ArrayType(T.StringType())),
        T.StructField("bands", T.ArrayType(BAND_STRUCT)),
    ]
)


def load_collection_config(path: str | Path | None = None) -> dict:
    """Parse a collection config JSON (reference from_json_file,
    config.py:304-312). Validates the fields the engine consumes."""
    p = Path(path) if path is not None else DEFAULT_CONFIG_PATH
    cfg = json.loads(p.read_text())
    for required in ("collection_id", "item_assets"):
        if required not in cfg:
            raise ValueError(f"collection config missing required field {required!r}")
    return cfg


def asset_config_df(spark: SparkSession, cfg: dict) -> DataFrame:
    """The asset-type dimension table (one row per configured asset type,
    reference AssetConfig config.py:198-237 + band configs config.py:62-195).
    Tiny: always broadcast at the join site."""
    rows = []
    for asset_type, ac in sorted(cfg["item_assets"].items()):
        bands = [
            (b["name"], b["data_type"], b.get("nodata"), b["index"])
            for b in ac.get("bands", [])
        ]
        rows.append(
            (
                asset_type,
                ac["title"],
                ac["media_type"],
                list(ac.get("roles", ["data"])),
                bands,
            )
        )
    return local_frame(spark, rows, ASSET_CONFIG_SCHEMA)

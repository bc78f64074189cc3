"""Provider/sink registries (reference §2.13 extensibility).

tegola registers data providers and cache backends by name at init time
(provider/provider.go:153-275, cache/cache.go:134-177); maps/layers
reference them from config. The Spark-native analog: named factories
returning DataFrames (providers) or writer callables (sinks), so a job
config can say ``provider = "corpus_pages"`` the way a tegola TOML says
``type = "postgis"``.

Built-ins registered below mirror the reference's provider set shape:
a std row provider per source table, the debug provider, and the
token-SQL provider (the user-supplied-SELECT surface,
provider/postgis/postgis.go:740-830).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_PROVIDERS: dict[str, Callable[..., DataFrame]] = {}
_SINKS: dict[str, Callable[..., object]] = {}


class AlreadyRegistered(ValueError):
    pass


class UnknownName(KeyError):
    pass


def register_provider(name: str, factory: Callable[..., DataFrame],
                      replace: bool = False) -> None:
    """provider.Register semantics: duplicate registration is an error
    (provider/provider.go:166-171) unless replace=True."""
    if name in _PROVIDERS and not replace:
        raise AlreadyRegistered(f"provider {name!r} already registered")
    _PROVIDERS[name] = factory


def provider_for(name: str) -> Callable[..., DataFrame]:
    """provider.For semantics: unknown name lists what exists
    (provider/provider.go:204-214)."""
    if name not in _PROVIDERS:
        raise UnknownName(
            f"no provider {name!r}; registered: {sorted(_PROVIDERS)}")
    return _PROVIDERS[name]


def register_sink(name: str, factory: Callable[..., object],
                  replace: bool = False) -> None:
    if name in _SINKS and not replace:
        raise AlreadyRegistered(f"sink {name!r} already registered")
    _SINKS[name] = factory


def registered_providers() -> list[str]:
    return sorted(_PROVIDERS)


def registered_sinks() -> list[str]:
    return sorted(_SINKS)


# ---------------------------------------------------------------------------
# built-ins
# ---------------------------------------------------------------------------

def _corpus_pages(spark: SparkSession, sf_dir: str, **_) -> DataFrame:
    from . import corpus
    return corpus.pages(spark, sf_dir)


def _corpus_points(spark: SparkSession, sf_dir: str, **_) -> DataFrame:
    from ..plans import pipeline
    return pipeline.point_features(spark, sf_dir)


def _nation_polys(spark: SparkSession, sf_dir: str, **_) -> DataFrame:
    from . import layers
    return layers.nation_layer(spark, sf_dir)


def _region_polys(spark: SparkSession, sf_dir: str, **_) -> DataFrame:
    from . import layers
    return layers.region_layer(spark, sf_dir)


def _debug(spark: SparkSession, sf_dir: str = "", zooms=(0, 1, 2), **_) -> DataFrame:
    from ..plans import pipeline
    return pipeline.debug_features(spark, list(zooms))


def _token_sql(spark: SparkSession, sf_dir: str = "", sql: str = "",
               z: int = 0, x: int = 0, y: int = 0, params=None, **_) -> DataFrame:
    """The user-SQL provider: a SELECT with mandated tokens, resolved
    per tile (the tegola layer `sql` config key)."""
    from ..functions import tokens
    tokens.validate_layer_sql(sql, declared_params=(params or {}).keys())
    return spark.sql(tokens.replace_tokens(sql, z, x, y, params=params))


def _parquet_sink(df: DataFrame, path: str, **kw):
    from . import sinks
    metrics = kw.get("metrics")
    if metrics is None:
        raise ValueError("parquet tile sink requires metrics=")
    return sinks.write_tiles(df, metrics, path)


register_provider("corpus_pages", _corpus_pages)
register_provider("corpus_points", _corpus_points)
register_provider("nation_polygons", _nation_polys)
register_provider("region_polygons", _region_polys)
register_provider("debug", _debug)
register_provider("token_sql", _token_sql)
register_sink("parquet_tiles", _parquet_sink)

"""DSL: thin builder functions mirroring the reference's macros
(``lib/dsl.ex:7-41`` — source/sink/mix/split/transform/rename), plus
``pipeline``, so a pipeline reads like the reference's examples:

    from strom_spark.dsl import source, transform, split, mix, pipeline

    p = pipeline(
        source("numbers1", [1, 2, 3]),
        source("numbers2", [4, 5, 6]),
        mix(["numbers1", "numbers2"], "mixed"),
        transform("mixed", value=F.col("value") + 1),
        split("mixed", {"odd": "value % 2 = 1", "even": "value % 2 = 0"}),
    )
    flow = p()
"""

from __future__ import annotations

from .component import Component, Pipeline
from .operators.mixer import Mixer
from .operators.renamer import Renamer
from .operators.splitter import Splitter
from .operators.transformer import Transformer
from .sources.sink import Sink
from .sources.source import Source


def source(name, origin, **kw) -> Source:
    return Source(name, origin, **kw)


def sink(name, origin, sync: bool = False, **kw) -> Sink:
    return Sink(name, origin, sync=sync, **kw)


def transform(name_or_names, select=None, **columns) -> Transformer:
    return Transformer(name_or_names, select, **columns)


def mix(inputs, output, **kw) -> Mixer:
    return Mixer(inputs, output, **kw)


def split(input, outputs, **kw) -> Splitter:
    return Splitter(input, outputs, **kw)


def rename(renames, **kw) -> Renamer:
    return Renamer(renames, **kw)


def pipeline(*components: Component, name: str | None = None) -> Pipeline:
    return Pipeline(components, name)


"""A function-shaped stage for the module-port tests: a filebeat ingest
pipeline's script step written as a function of the input frame that
returns the fields to set, in order."""

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame

from beats_spark.event import Fields
from beats_spark.processors.base import Stage


@dataclass
class FnStage(Stage):
    name: str = "fn"
    updates_fn: Callable[[DataFrame], dict[str, Column]] | None = None

    def updates(self, f: Fields) -> None:
        # the function reads the input frame; its entries are set in order
        for path, value in self.updates_fn(f.df).items():
            f.set(path, value)

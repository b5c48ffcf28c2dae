"""Engine configuration.

Mirrors the reference's constructor knobs (symspellpy.py:84-102) and the
corpus-probability constants (symspellpy.py:81-82) without copying its
execution model.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from enum import Enum, IntEnum

MAX_INT64 = 2**63 - 1

#: Corpus-size constant used for naive-Bayes probabilities
#: (reference symspellpy.py:81 — Google Books Ngram token count).
DEFAULT_CORPUS_N = 1024908267229

#: Persisted-index schema version (analogue of reference
#: symspellpy.py:75 / pickle_mixin.py:138-139).
DATA_VERSION = 3


class Verbosity(IntEnum):
    """Result-set cardinality for lookup (reference verbosity.py:24-38).

    TOP: single best suggestion (min distance, max count).
    CLOSEST: all suggestions at the minimal edit distance.
    ALL: every suggestion within max_edit_distance.
    """

    TOP = 0
    CLOSEST = 1
    ALL = 2


class DistanceAlgorithm(str, Enum):
    """Distance kernel selector (reference editdistance.py:32-39).

    The *_FAST variants of the reference are C++-backed; here the fast
    path is numpy vectorization, so each name maps to the same
    vectorized kernel. USER_PROVIDED accepts any callable
    ``(pd.Series, pd.Series, int) -> pd.Series``.
    """

    LEVENSHTEIN = "levenshtein"
    DAMERAU_OSA = "damerau_osa"
    USER_PROVIDED = "user_provided"


@dataclass(frozen=True)
class EngineConfig:
    """Knobs shared by the dictionary index and the lookup operators.

    max_dictionary_edit_distance / prefix_length / count_threshold mirror
    reference symspellpy.py:84-102 (defaults 2, 7, 1); validation mirrors
    symspellpy.py:92-99. ``distance_comparer`` is the USER_PROVIDED
    kernel ``(s1: pd.Series, s2: pd.Series, max_distance) -> pd.Series``
    returning -1 above ``max_distance`` (reference
    abstract_distance_comparer.py:4-23); it is not persisted by
    ``SparkDictionary.save``.
    """

    max_dictionary_edit_distance: int = 2
    prefix_length: int = 7
    count_threshold: int = 1
    distance_algorithm: DistanceAlgorithm = DistanceAlgorithm.DAMERAU_OSA
    corpus_n: int = DEFAULT_CORPUS_N
    distance_comparer: Callable | None = None

    def __post_init__(self) -> None:
        if self.max_dictionary_edit_distance < 0:
            raise ValueError("max_dictionary_edit_distance cannot be negative")
        if (
            self.prefix_length < 1
            or self.prefix_length <= self.max_dictionary_edit_distance
        ):
            raise ValueError("prefix_length cannot be less than 1 or smaller than max_dictionary_edit_distance")
        if self.count_threshold < 0:
            raise ValueError("count_threshold cannot be negative")
        if (self.distance_algorithm == DistanceAlgorithm.USER_PROVIDED) != (
            self.distance_comparer is not None
        ):
            raise ValueError(
                "distance_comparer is required by, and only valid with, "
                "DistanceAlgorithm.USER_PROVIDED"
            )

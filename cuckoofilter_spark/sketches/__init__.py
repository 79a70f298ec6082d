from cuckoofilter_spark.sketches.base import Sketch, deserialize_sketch, serialize_sketch
from cuckoofilter_spark.sketches.bloom import BloomFilter
from cuckoofilter_spark.sketches.countmin import CountMinSketch
from cuckoofilter_spark.sketches.hll import HyperLogLog
from cuckoofilter_spark.sketches.kll import KLLSketch
from cuckoofilter_spark.sketches.kmv import KMVSketch
from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch
from cuckoofilter_spark.sketches.tdigest import TDigest

__all__ = [
    "Sketch", "serialize_sketch", "deserialize_sketch",
    "BloomFilter", "HyperLogLog", "CountMinSketch",
    "KLLSketch", "KMVSketch", "SpaceSavingSketch", "TDigest",
]

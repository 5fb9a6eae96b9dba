"""Reusable column expressions and codecs (vectors, hashing, media decoders,
document and archive parsers); import each from its defining module."""

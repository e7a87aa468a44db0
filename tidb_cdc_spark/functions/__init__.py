"""Scalar/vector function library.

- ``numeric``    cross-engine-deterministic aggregation helpers
- ``text``       text analysis (tokens, quality, lang-id, fingerprint)
- ``similarity`` embedding cosine / ANN search
- ``dedup``      exact + MinHash/SimHash/n-gram near-dup detection
- ``media_probe``  multimodal columns: ``MEDIA_SCHEMA``, header and
                   animation probes, the shared container walkers
- ``media_decode`` pixel / frame / sample decoders
- ``media_hash``   perceptual + audio hashes, near-dup pairs, cap reports
- ``media_synth``  fixture encoders and the ``synth_*`` media planters
"""

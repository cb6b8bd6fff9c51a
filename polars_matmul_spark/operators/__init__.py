"""DataFrame-level operators.

- ``similarity_join``  exact distributed similarity score/top-k join
  (the 100 TB path: no driver-side corpus, pure Catalyst plan)
- ``dedup``            exact + near-duplicate detection family
- ``ann``              approximate nearest neighbor (IVF / LSH bucketed),
  trained centroids, incremental embedding near-dup vs persisted index
- ``semdedup``         unsupervised semantic dedup (KMeans blocking,
  top-2 probe, exact verify, component keep)
- ``text``             text analysis: lang-id, quality, tokens,
  fingerprints, canonicalization
- ``text_filters``     PII redaction, repetition, contamination,
  domain-blocklist curation
- ``tfidf``            TF-IDF / BM25 / vocabulary / OOV / unigram LM score
- ``bpe``              subword BPE tokenizer (train + broadcast apply)
- ``chunking``         context-window chunking
- ``packing``          FFD sequence packing + bin materialization
- ``sampling``         deterministic splits / stratified / mixture
- ``quantize``         int8 quantization + f16 storage path
- ``profile``          table profiling, correlation matrix, heavy hitters
- ``merge``            CDC merge-upsert + SCD2 history
- ``mllib_matmul``     BlockMatrix distributed matmul
- ``asof`` / ``rangejoin``  temporal joins
- ``sketches`` / ``skew``   approximate aggs, salted patterns
- ``multimodal``       binary-column plumbing; REAL WAV/BMP
  decoders surfaced via decoded_asset_stats; fake-decode family;
  standalone PNG codec (decode_png/encode_png, not dispatched)
- ``gif``              standalone GIF codec: LZW, interlace, animation
  (not dispatched)
- ``flac``             REAL FLAC codec: Rice + fixed/LPC prediction,
  CRC + MD5 self-verified lossless audio
- ``mediaprobe``       MP3/MP4 container-metadata probing (ffprobe
  pass; header-bounded; WAV/FLAC/BMP/PNG/JPEG/GIF/TIFF by magic)
- ``rawbytes``         archive expansion (zip/tar/gz/bz2/xz, bomb
  guards) + encoding detection / UTF-8 transcoding
- ``linededup``        CCNet-style line-level boilerplate removal
- ``quality_model``    learned hashed-token quality scorer + trainer
- ``dsir``             DSIR importance resampling (hash-Gumbel top-k)
- ``shards``           token-budget shard export (two-phase prefix sum)
- ``bloom``            distributed Bloom filter, two-gate exact dedup
- ``cms``              Count-Min sketch: mergeable bounded-size
  per-key frequency summary (build/merge/lookup)
- ``pq``               product quantization + ADC search
- ``ivfpq``            IVF-PQ: inverted lists over PQ-coded residuals
- ``funnel``           conversion funnels + retention cohorts
- ``zorder``           Z-order/Morton multi-column data layout
- ``winnow``           winnowing (MOSS) substring-overlap dedup +
  persistable fingerprint index for incremental checks; exact
  substring dedup by removal (span excision, exact or gram-CMS)
- ``mining``           contrastive hard/in-batch negative mining
- ``diagnose``         key-skew + partition-balance reports
- ``projection``       seeded Gaussian JL projection, SRP bit
  signatures, rerank-free hamming top-k; p-stable Euclidean LSH
  (engine-replayable self-join + persistable bucket index +
  new-vs-index probe)
- ``warc``             WARC/ISO-28500 record extraction (multi-member
  gzip, HTTP split, WARC-Truncated, record-type routing)
- ``urls``             RFC 3986 URL canonicalization, public-suffix
  registrable-domain keys (wildcards + exceptions), per-domain caps
- ``html``             HTML text extraction: tag/script/entity strip,
  title, link-density boilerplate signal (pure Catalyst)
- ``retrieval``        hybrid search: reciprocal-rank fusion of
  lexical + dense legs; ColBERT-style late-interaction MaxSim top-k
  (declarative exact twin + corpus-unbounded blocked path +
  centroid-pruned PLAID-style approximate path)
- ``ranking_eval``     retrieval-quality metrics: MRR, recall@k,
  precision@k, nDCG@k per query + macro averages (ordered folds,
  DuckDB-replayable)
- image near-dup: ``multimodal.image_dhash`` (perceptual dHash over
  really-decoded 24-bit BMP pixels) +
  ``neardup_images_dhash`` (banded Hamming join, pigeonhole-exact
  below the band count)
- ``linkgraph``        crawl link-graph priors: href extraction,
  registrable-domain edges, exact integer fixed-point PageRank
  (order-free sums, engine-replayable by construction)
"""

from polars_matmul_spark.operators.similarity_join import (  # noqa: F401
    score_expr,
    similarity_join_exact,
    topk_join_exact,
)

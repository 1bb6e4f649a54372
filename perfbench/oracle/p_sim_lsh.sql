WITH bk AS (
  SELECT vec_id, label, embedding,
    CAST(list_reduce(list_transform(range(0, 8), j ->
  (list_transform(range(0, 8), j ->
  CASE WHEN list_reduce(list_transform(range(0, 64), d ->
    CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) *
      CAST((CAST(('0x' || substr(md5('' ||
        CAST(j AS VARCHAR) || '_' ||
        CAST(d AS VARCHAR)), 1, 4)) AS BIGINT) % 7) - 3 AS DOUBLE)),
    (x, y) -> x + y) > 0
  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END))[CAST(j + 1 AS INT)] << CAST(j AS INT)),
  (x, y) -> x + y) AS BIGINT) AS bucket
  FROM embeddings)
SELECT e.vec_id, e.label, e.bucket,
  list_reduce(list_transform(list_zip(e.embedding, q.embedding),
  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
  (x, y) -> x + y) /
    (SQRT(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
  (x, y) -> x + y)) * SQRT(list_reduce(list_transform(list_zip(q.embedding, q.embedding),
  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
  (x, y) -> x + y))) AS cosine
FROM bk e JOIN (SELECT * FROM bk WHERE vec_id = 0) q
  ON e.bucket = q.bucket
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id
LIMIT 5

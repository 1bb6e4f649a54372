WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       FROM w),
n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
oksh AS (SELECT sh FROM sh GROUP BY sh
         HAVING COUNT(*) BETWEEN 2 AND 50),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM sh a JOIN oksh k ON a.sh = k.sh
  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY d1, d2)
SELECT d1, d2, common,
  CAST(common AS DOUBLE) / (na.ns + nb.ns - common) AS jaccard
FROM pairs JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
WHERE CAST(common AS DOUBLE) / (na.ns + nb.ns - common) >= 0.5
ORDER BY d1, d2

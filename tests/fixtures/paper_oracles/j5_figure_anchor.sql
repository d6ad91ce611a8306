WITH sec AS (
    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) AS survey_id,
           doc_id AS pos,
           SUBSTR(text, 1, 200) AS content,
           SUBSTR(text, 50, 20) AS anchor,
           '<figure-link title=''Fig ' || CAST(doc_id AS VARCHAR)
           || ''' type=''mermaid'' content=''graph TD;\nA-->B''></figure-link>' AS link
    FROM documents WHERE n_chars >= 70)
SELECT survey_id, pos,
       CASE WHEN STRPOS(content, anchor) > 0
            THEN SUBSTR(content, 1, STRPOS(content, anchor) - 1)
                 || CHR(10) || link || CHR(10)
                 || SUBSTR(content, STRPOS(content, anchor))
            ELSE content END AS content
FROM sec

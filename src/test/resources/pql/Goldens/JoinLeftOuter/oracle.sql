SELECT l.EventId, l.State, r.State AS "$right.State", r.Region
FROM (SELECT EventId, State FROM StormEvents) l
LEFT JOIN (SELECT State, Region FROM States) r ON l.State = r.State
ORDER BY l.EventId ASC NULLS FIRST
